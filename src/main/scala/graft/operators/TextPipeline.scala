package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.expressions.VectorExpressions
import graft.functions.Text

/** Text-analysis / dedup operators over `documents` (SURVEY.md §2.9):
  * exact Jaccard near-dup (Q26), tf-idf (Q27), and the training-data
  * pipeline extensions — language ID, quality scoring, fingerprinting,
  * token counting, MinHash signatures, SimHash, n-gram Jaccard, and the
  * MinHash-LSH scale path.
  *
  * Everything that has a DuckDB-expressible deterministic definition
  * carries an oracle; the LSH bucket-join variant is approximate-recall
  * by construction and is instead property-tested against the exact
  * Jaccard output in ScalaTest (rows-only driver check).
  *
  * Scale posture: all token pipelines are explode→hash-agg (map-side
  * partial agg everywhere); pair generation always happens AFTER a
  * per-key reduction (distinct word sets / LSH buckets), never as a raw
  * cross join of documents.
  */
object TextPipeline {

  private def tokens(s: SparkSession, d: String): DataFrame =
    Text.tokens(Tables.documents(s, d))

  /** DuckDB-side tokenizer CTE — kept textually identical across oracles. */
  private val TokensCte =
    """tokens AS (
      |  SELECT doc_id, w AS word FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |    FROM documents) WHERE length(w) > 0)""".stripMargin

  /** DuckDB-side polynomial word hash — mirrors Text.polyHash(seed=7). */
  private val WordHashSql =
    """list_reduce(list_prepend(CAST(7 AS BIGINT),
      |  list_transform(list_filter(regexp_split_to_array(word, ''), c -> length(c) > 0),
      |                 c -> CAST(unicode(c) AS BIGINT))),
      |  (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin

  // ---------------------------------------------------------------- Q26
  /** Q26 near-duplicate pairs by exact Jaccard over word sets (L2 exact
    * path): distinct (doc,word) → self-join on word → |A∩B| → Jaccard.
    * The join key is `word` (31-value domain here; salting note: at real
    * scale the df-skewed words would be handled by the LSH path below,
    * which never joins on raw words). */
  val q26_neardup_jaccard = QueryDef(
    "q26_neardup_jaccard",
    s"""WITH $TokensCte,
      |t AS (SELECT DISTINCT doc_id, word FROM tokens WHERE doc_id < 100),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |          FROM t x JOIN t y ON x.word = y.word AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id)
      |SELECT a, b, ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jac
      |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    exactJaccardPairs(
      tokens(s, d).where(col("doc_id") < 100).select("doc_id", "word").distinct(),
      0.8)
      .orderBy("a", "b")
  }

  /** Exact Jaccard >= tau over (id, word) set rows. Shared by Q26, Q34
    * and the LSH verification stage. */
  def exactJaccardPairs(setRows: DataFrame, tau: Double,
                        id: String = "doc_id", item: String = "word"): DataFrame = {
    val sz = setRows.groupBy(id).agg(count(lit(1)).as("n"))
    val x = setRows.select(col(id).as("a"), col(item).as("w"))
    val y = setRows.select(col(id).as("b"), col(item).as("w2"))
    val inter = x.join(y, col("w") === col("w2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col(id).as("a"), col("n").as("na")), "a")
      .join(sz.select(col(id).as("b"), col("n").as("nb")), "b")
      .withColumn("rawjac", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("rawjac") >= tau)
      .select(col("a"), col("b"), round(col("rawjac"), 4).as("jac"))
  }

  // ---------------------------------------------------------------- Q27
  /** Q27 tf-idf top terms: weight = tf * ln(N/df), df over the full
    * corpus, outputs for doc_id < 20, top-3 per doc. */
  val q27_tfidf = QueryDef(
    "q27_tfidf",
    s"""WITH $TokensCte,
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tokens WHERE doc_id < 20 GROUP BY doc_id, word),
      |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY word),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |wts AS (SELECT doc_id, tf.word AS word,
      |        ROUND(tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS weight
      |        FROM tf, df, n WHERE tf.word = df.word),
      |r AS (SELECT doc_id, word, weight,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY weight DESC, word) AS rn
      |      FROM wts)
      |SELECT doc_id, word, weight, rn FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin) {
    (s, d) =>
      val toks = tokens(s, d)
      val tf = toks.where(col("doc_id") < 20)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val df = toks.groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id").orderBy(col("weight").desc, col("word"))
      // No broadcast hint on df: vocabulary grows with the corpus (Heaps'
      // law — 10^7–10^8 word types at crawl scale), so a forced broadcast
      // is a scale-killer. AQE picks broadcast when df measures small and
      // degrades to a shuffled join when it doesn't (round-8 plan test
      // pins both behaviors). broadcast(n) stays: it is one row always.
      tf.join(df, "word").crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("weight"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select("doc_id", "word", "weight", "rn")
        .orderBy("doc_id", "rn")
  }

  // ------------------------------------------------------- extensions
  /** Language-marker word lists (drawn from the fixtures' shared 31-word
    * vocab — the heuristic's *shape* is the deliverable; on synthetic
    * shared-vocab text its accuracy is chance). */
  private val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("hash", "merge"),
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "row"),
    "fr" -> Seq("query", "table"),
    "zh" -> Seq("spark", "scan"))

  /** SQL CTE fragment shared by q28/q138: per-doc marker counts + the
    * argmax prediction (CASE order = Markers order = alphabetical, so
    * ties break identically to the builders' coalesce chain). */
  private val LangPredCtes: String = {
    val cnts = Markers.map { case (l, ws) =>
      s"SUM(CASE WHEN word IN (${ws.map(w => s"'$w'").mkString(",")}) THEN 1 ELSE 0 END) AS c_$l"
    }.mkString(",\n  ")
    val pred = Markers.map { case (l, _) => s"WHEN c_$l = g THEN '$l'" }
      .mkString("CASE ", " ", " END")
    val g = s"GREATEST(${Markers.map("c_" + _._1).mkString(",")})"
    s"""sc AS (SELECT doc_id, $cnts FROM tokens WHERE doc_id < 100 GROUP BY doc_id),
       |p AS (SELECT doc_id, $pred AS pred FROM (SELECT *, $g AS g FROM sc))""".stripMargin
  }

  /** Builder shared by q28/q138: (doc_id, lang, pred) for the bounded
    * doc set — marker-count argmax with alphabetical tie-break. */
  private def langPredictions(s: SparkSession, d: String): DataFrame = {
    val aggs = Markers.map { case (l, ws) =>
      sum(when(col("word").isInCollection(ws), 1).otherwise(0)).as(s"c_$l")
    }
    val scored = tokens(s, d).where(col("doc_id") < 100)
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .withColumn("g", greatest(Markers.map(m => col("c_" + m._1)): _*))
    // CASE order: first matching lang in Markers order == alphabetical —
    // matches the oracle's CASE WHEN chain exactly.
    val p = scored.withColumn("pred", coalesce(Markers.map { case (l, _) =>
      when(col(s"c_$l") === col("g"), lit(l))
    }: _*))
    p.join(Tables.documents(s, d).select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("pred"))
  }

  /** q28: n-gram/stopword-heuristic language ID — marker-word counts per
    * doc, argmax with alphabetical tie-break. */
  val q28_lang_id = QueryDef(
    "q28_lang_id",
    s"""WITH $TokensCte,
      |$LangPredCtes
      |SELECT p.doc_id, lang, pred,
      |  CAST(CASE WHEN lang = pred THEN 1 ELSE 0 END AS BIGINT) AS hit
      |FROM p JOIN documents ON p.doc_id = documents.doc_id
      |ORDER BY p.doc_id""".stripMargin) { (s, d) =>
    langPredictions(s, d)
      .select(col("doc_id"), col("lang"), col("pred"),
        when(col("lang") === col("pred"), 1L).otherwise(0L).as("hit"))
      .orderBy("doc_id")
  }

  /** q29: document quality scoring — token count, avg word length,
    * stopword ratio, composite score (length × non-stopword density). */
  val q29_quality_score = QueryDef(
    "q29_quality_score",
    s"""WITH $TokensCte,
      |q AS (SELECT doc_id, COUNT(*) AS n_tok,
      |  ROUND(CAST(SUM(length(word)) AS DOUBLE) / COUNT(*), 4) AS avg_len,
      |  ROUND(CAST(SUM(CASE WHEN word IN ('the','a') THEN 1 ELSE 0 END) AS DOUBLE)
      |        / COUNT(*), 4) AS stop_ratio,
      |  ROUND(ln(1 + COUNT(*)) *
      |    (1 - CAST(SUM(CASE WHEN word IN ('the','a') THEN 1 ELSE 0 END) AS DOUBLE)
      |         / COUNT(*)), 4) AS score
      |  FROM tokens GROUP BY doc_id)
      |SELECT q.doc_id, n_tok, avg_len, stop_ratio, score, n_chars
      |FROM q JOIN documents ON q.doc_id = documents.doc_id
      |ORDER BY q.doc_id""".stripMargin) { (s, d) =>
    val stop = col("word").isin("the", "a")
    val q = tokens(s, d).groupBy("doc_id").agg(
      count(lit(1)).as("n_tok"),
      round(sum(length(col("word"))).cast("double") / count(lit(1)), 4).as("avg_len"),
      round(sum(when(stop, 1).otherwise(0)).cast("double") / count(lit(1)), 4).as("stop_ratio"),
      round(log(lit(1) + count(lit(1))) *
        (lit(1) - sum(when(stop, 1).otherwise(0)).cast("double") / count(lit(1))), 4).as("score"))
    q.join(Tables.documents(s, d).select("doc_id", "n_chars"), "doc_id")
      .select("doc_id", "n_tok", "avg_len", "stop_ratio", "score", "n_chars")
      .orderBy("doc_id")
  }

  /** q30: document fingerprint — deterministic polynomial rolling hash
    * over the raw text (the dedup-key primitive at 100 TB: fingerprint
    * first, exact-compare only within colliding buckets). */
  val q30_fingerprint = QueryDef(
    "q30_fingerprint",
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(7 AS BIGINT),
      |    list_transform(list_filter(regexp_split_to_array(text, ''), c -> length(c) > 0),
      |                   c -> CAST(unicode(c) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Text.polyHash(col("text"), 7L).as("fp"))
      // hash exchange before the sort: range sampling must not re-run
      // the per-row hash chain (the q54 pattern, see its scaladoc)
      .repartition(col("doc_id"))
      .orderBy("doc_id")
  }

  /** q31: token counting — whitespace tokens, regex (BPE-ish
    * letters-run) tokens, and a chars/4 BPE estimate. */
  val q31_token_count = QueryDef(
    "q31_token_count",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
      |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_re,
      |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_ws"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").as("n_re"),
      ceil(col("n_chars") / 4.0).cast("long").as("est_bpe"))
      // hash exchange before the sort (q54 pattern): don't let range
      // sampling re-run the regex chain
      .repartition(col("doc_id"))
      .orderBy("doc_id")
  }

  /** MinHash parameters: h_i(w) = (a_i·wordhash(w) + b_i) mod P. */
  val MinHashParams: Seq[(Long, Long)] = Seq((3L, 1L), (5L, 7L), (11L, 13L), (17L, 19L))
  val P: Long = Text.HashMod

  /** MinHash signature columns over a (id, word) set-row DataFrame. */
  def minHashSignature(setRows: DataFrame, id: String = "doc_id"): DataFrame = {
    val wh = Text.polyHash(col("word"), 7L)
    val aggs = MinHashParams.zipWithIndex.map { case ((a, b), i) =>
      min((wh * a + b) % P).as(s"h$i")
    }
    setRows.groupBy(id).agg(aggs.head, aggs.tail: _*)
  }

  /** q32: 4-hash MinHash signatures per document (deterministic → full
    * DuckDB oracle; the scalable LSH variant is q37). */
  val q32_minhash_sig = QueryDef(
    "q32_minhash_sig", {
      val hs = MinHashParams.zipWithIndex.map { case ((a, b), i) =>
        s"MIN((wh * $a + $b) % 1000000007) AS h$i"
      }.mkString(",\n  ")
      s"""WITH $TokensCte,
        |t AS (SELECT DISTINCT doc_id, word FROM tokens WHERE doc_id < 50),
        |h AS (SELECT doc_id, $WordHashSql AS wh FROM t)
        |SELECT doc_id, $hs FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    minHashSignature(
      tokens(s, d).where(col("doc_id") < 50).select("doc_id", "word").distinct())
      .orderBy("doc_id")
  }

  /** (doc_id, simhash): 16-bit tf-weighted SimHash over the bounded
    * doc_id < 100 contract — shared by q33 (signatures) and q50
    * (neighbor query). */
  private[graft] def simhashOf(s: SparkSession, d: String): DataFrame = {
    val tf = tokens(s, d).where(col("doc_id") < 100)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val h = tf.withColumn("wh", Text.polyHash(col("word"), 7L))
    // 16 signed-sum aggregates in ONE groupBy(doc_id) replace the
    // exploded (doc_id, bit) row blowup and its extra shuffle — same
    // integer math, 16× fewer agg input rows, and the exchange saved
    // here funds q50's hot-bucket guard window within the suite-wide
    // shuffle budget
    val bitAggs = (0 until 16).map { b =>
      sum(when(expr(s"(shiftright(wh, $b) & 1) = 1"), col("tf"))
        .otherwise(-col("tf"))).as(s"s$b")
    }
    val sums = h.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
    val sh = (0 until 16).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    sums.select(col("doc_id"), sh.as("simhash"))
  }

  /** q33: 16-bit SimHash per document, tf-weighted. */
  val q33_simhash = QueryDef(
    "q33_simhash",
    s"""WITH $TokensCte,
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tokens WHERE doc_id < 100
      |       GROUP BY doc_id, word),
      |h AS (SELECT doc_id, tf, $WordHashSql AS wh FROM tf),
      |bits AS (SELECT doc_id, b,
      |         SUM(CASE WHEN (wh >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
      |         FROM h, (SELECT unnest(range(0, 16)) AS b)
      |         GROUP BY doc_id, b)
      |SELECT doc_id,
      |  CAST(SUM(CASE WHEN s > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END)
      |       AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    simhashOf(s, d).orderBy("doc_id")
  }

  /** q34: word-bigram (2-gram shingle) Jaccard near-dup pairs. */
  val q34_ngram_jaccard = QueryDef(
    "q34_ngram_jaccard",
    """WITH arr AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS ws
      |  FROM documents WHERE doc_id < 50),
      |bg AS (SELECT DISTINCT doc_id, bg FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |    i -> ws[i] || ' ' || ws[i + 1])) AS bg FROM arr)),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM bg GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |          FROM bg x JOIN bg y ON x.bg = y.bg AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id)
      |SELECT a, b, ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jac
      |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.05
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    // r12 (guide §4): native word_ngrams(n=2) — same space-joined
    // bigram strings as the replaced transform/element_at/concat chain
    // (TextPipelineSpec parity pin), one byte scan, no lambdas
    val bg = Tables.documents(s, d).where(col("doc_id") < 50)
      .select(col("doc_id"),
        explode(graft.expressions.VectorExpressions.wordNgrams(col("text"), 2))
          .as("word"))
      .distinct()
    // 0.05: the synthetic 31-word-vocab docs top out at ~0.10 bigram
    // Jaccard — a higher cut makes the oracle check vacuous (0 rows)
    exactJaccardPairs(bg, 0.05).orderBy("a", "b")
  }

  /** q37: MinHash-LSH candidate pairs — the 100 TB near-dup path.
    * 16 hashes → 4 bands × 4 rows; band-signature bucket join generates
    * candidates WITHOUT any word-level self-join; candidates are then
    * verified with exact Jaccard. Approximate recall → no SQL oracle
    * (ScalaTest compares against the exact Q26 pairs). */
  val LshHashes = 16
  val LshBands = 4

  /** Hot-bucket cap for the LSH candidate join: a (band, bsig) bucket
    * with more members than this switches from all-pairs to star edges.
    * 128 keeps every fixture bucket on the all-pairs path (largest
    * observed fixture bucket: 76 — the shared-31-word-vocab docs
    * collide heavily) while bounding the worst bucket at 8128 pairs. */
  val LshMaxBucket = 128

  /** MinHash signature + band explode: (doc_id, band, bsig) rows, one
    * per document per band. */
  private[graft] def minHashBanded(setRows: DataFrame): DataFrame = {
    val wh = Text.polyHash(col("word"), 7L)
    // 16 deterministic (a,b) parameter pairs
    val params = (0 until LshHashes).map(i => (2L * i + 3L, 7L * i + 1L))
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min((wh * a + b) % P).as(s"h$i")
    }
    val sig = setRows.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val rows = LshHashes / LshBands
    // band value = struct of its row hashes; explode to (band, sig)
    val bandCols = (0 until LshBands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("_", (0 until rows).map(r => col(s"h${bnd * rows + r}")): _*).as("bsig"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bsig").as("bsig"))
  }

  /** Candidate pairs from banded signatures with a HOT-BUCKET GUARD.
    *
    * The failure mode this removes: a degenerate corpus (thousands of
    * byte-identical or boilerplate documents — routine in web crawls)
    * collapses into ONE band bucket, and the plain self-join then emits
    * n²/2 pairs from that single bucket — a straggler task that stalls
    * the whole stage at 100 TB no matter how well everything else is
    * partitioned. The guard: buckets with ≤ cap members keep the exact
    * all-pairs join; larger buckets emit STAR edges only (bucket-min
    * doc_id → every other member), i.e. O(n) pairs per bucket instead of
    * O(n²). Star edges preserve exactly what the dedup pipeline
    * (connectedComponents → survivor election in [[dedupCorpus]]) needs —
    * every bucket member stays reachable from the representative, so
    * cluster membership is unchanged for mutually-similar buckets — at
    * the price of not enumerating every intra-bucket pair in the PAIRS
    * output on adversarial input (the pair list of n identical docs is
    * inherently quadratic; no bounded algorithm can emit it).
    *
    * One extra shuffle vs the unguarded join: the per-bucket count/min
    * window partitions by (band, bsig) — the same key the candidate join
    * hashes on. */
  private[graft] def bucketGuardedCandidates(banded: DataFrame, cap: Int,
                                             idCol: String = "doc_id"): DataFrame = {
    val wB = Window.partitionBy("band", "bsig")
    val sized = banded
      .withColumn("bn", count(lit(1)).over(wB))
      .withColumn("rep", min(idCol).over(wB))
    val small = sized.where(col("bn") <= cap)
      .select(idCol, "band", "bsig")
    val smallPairs = small.as("x").join(small.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
    val starPairs = sized.where(col("bn") > cap && col(idCol) =!= col("rep"))
      .select(col("rep").as("a"), col(idCol).as("b"))
    smallPairs.union(starPairs).distinct()
  }

  /** Prune the standing banded index to the buckets the fresh batch
    * actually touches: collect the batch's DISTINCT (band, bsig) keys —
    * bounded by construction via `limit(cap + 1)`, so the collect is
    * O(cap) no matter how large the batch is — and push them back as a
    * per-band `band = b AND bsig IN (...)` disjunction on the standing
    * scan. The predicate reaches parquet as pushed filters; because
    * `Layout.appendEpochBucketed` sorts files by (band, bsig), row-group
    * min/max stats then skip every untouched bucket, so a tiny epoch
    * reads O(touched buckets) of the index instead of all of it.
    *
    * Correct by construction: the filter keys are exactly the join keys
    * of every downstream use, so (a) rows outside touched buckets could
    * never join a fresh row anyway, and (b) every row of a touched
    * bucket survives the filter — the per-bucket guard metadata (bn,
    * rep) computed on the pruned frame is IDENTICAL to the unpruned
    * value for all buckets that matter. If the batch touches more than
    * `cap` buckets the frame is returned unchanged (a big epoch reads
    * most of the index anyway; an enormous IN list would only bloat the
    * plan). `cap <= 0` disables pruning. */
  private[graft] def pruneToTouchedBuckets(standing: DataFrame,
      fresh: DataFrame, cap: Int): DataFrame = {
    if (cap <= 0) return standing
    val keyed = standing.columns.contains("bkey")
    val keyCols = if (keyed) Seq("bkey", "band", "bsig") else Seq("band", "bsig")
    val keys = fresh.select(keyCols.head, keyCols.tail: _*)
      .distinct().limit(cap + 1).collect()
    if (keys.length > cap) standing
    else if (keys.isEmpty) standing.where(lit(false)) // empty batch: no buckets touched
    else {
      // (band, bsig) sit at positions keyCols.length-2 / -1 either way
      val b = keyCols.length - 2
      val pred = keys.groupBy(_.get(b)).toSeq
        .map { case (band, rows) =>
          col("band") === lit(band) &&
            col("bsig").isin(rows.map(_.get(b + 1)).toIndexedSeq: _*)
        }
        .reduce(_ || _)
      // bkey IN (...) first: on a table BUCKETED BY the single bkey
      // column this is what unlocks bucket FILE pruning (Spark only
      // prunes files for single-column bucket specs); the per-band
      // disjunction then prunes row groups within surviving files
      val full =
        if (keyed) col("bkey").isin(keys.map(_.get(0)).toIndexedSeq: _*) && pred
        else pred
      standing.where(full)
    }
  }

  /** [[bucketGuardedCandidates]] for INCREMENTAL ingest: candidates
    * touch only the `fresh` banded rows against the `standing` index
    * (which already contains them — the guard metadata is computed over
    * the current cumulative view, so cap behavior matches the batch
    * pipeline on the same corpus). The candidate stage of the streaming
    * survivor index (`streaming.SurvivorIndex.ingestEpoch`).
    *
    * Every stage here hashes on (band, bsig): when the standing side is
    * a table BUCKETED on those columns (`Layout.appendEpochBucketed`),
    * the per-bucket metadata aggregate and the candidate join both read
    * it Exchange-free and only the epoch-sized `fresh` side shuffles —
    * the streaming mirror of q65's bucketed-standing-corpus posture
    * (asserted in LayoutSpec). `pruneBuckets > 0` additionally prunes
    * standing-side READS to the touched buckets via
    * [[pruneToTouchedBuckets]] — worth it when epochs are tiny relative
    * to the index (the driver-side key collect is bounded at
    * `pruneBuckets + 1` rows by construction). */
  private[graft] def incrementalGuardedCandidates(standing: DataFrame,
      fresh: DataFrame, cap: Int, idCol: String = "doc_id",
      pruneBuckets: Int = 0): DataFrame = {
    // Keyed layout (round 7): when the standing index carries `bkey`
    // (= functions.hash(band, bsig), the single BUCKET column of the
    // file-prunable layout — see Layout scaladoc), thread it through
    // every stage: grouping/joining on the superset (bkey, band, bsig)
    // keeps results identical (bkey is functionally dependent on the
    // other two) and pruneToTouchedBuckets pushes bkey literals for
    // genuine bucket-file skipping. CAVEAT: for the standing side to
    // satisfy the join distribution from its HashPartitioning(bkey)
    // bucket spec — i.e. to keep the no-standing-shuffle property —
    // the session must run with
    // spark.sql.requireAllClusterKeysForCoPartition=false (the public
    // planner knob for joining bucketed tables on a key subset;
    // results are identical either way). SurvivorIndex.ingestEpoch
    // sets/restores it around its actions; direct callers own it
    // (LayoutSpec pins both the pruning and the no-shuffle plan).
    val keyed = standing.columns.contains("bkey")
    val fr =
      if (keyed && !fresh.columns.contains("bkey"))
        fresh.withColumn("bkey", hash(col("band"), col("bsig")))
      else fresh
    val keyCols = if (keyed) Seq("bkey", "band", "bsig") else Seq("band", "bsig")
    val st = pruneToTouchedBuckets(standing, fr, pruneBuckets)
    val meta = st.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bn"), min(idCol).as("rep"))
    val nj = fr.select((col(idCol).as("n") +: keyCols.map(col)): _*)
      .join(meta, keyCols)
    val small = nj.where(col("bn") <= cap)
      .join(st.select((col(idCol).as("s") +: keyCols.map(col)): _*), keyCols)
      .where(col("n") =!= col("s"))
      .select("n", "s")
    val star = nj.where(col("bn") > cap && col("n") =!= col("rep"))
      .select(col("n"), col("rep").as("s"))
    small.union(star)
      .select(least(col("n"), col("s")).as("a"),
        greatest(col("n"), col("s")).as("b"))
      .distinct()
  }

  def minHashLshPairs(setRows: DataFrame, tau: Double,
                      maxBucket: Int = LshMaxBucket): DataFrame = {
    val cand = bucketGuardedCandidates(minHashBanded(setRows), maxBucket)
    // Exact verification of CANDIDATES ONLY: join each pair to its two
    // word sets and intersect with array HOFs. (Re-running the word-level
    // self-join here would reintroduce exactly the quadratic stage LSH
    // exists to avoid — candidate count, not corpus size, bounds this.)
    val sets = setRows.groupBy("doc_id")
      .agg(sort_array(collect_set(col("word"))).as("ws"))
    cand
      .join(sets.select(col("doc_id").as("a"), col("ws").as("wa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("ws").as("wb")), "b")
      // r12: sorted sets + native two-pointer count (see setSimJoin)
      .withColumn("i", graft.expressions.VectorExpressions
        .sortedIntersectCount(col("wa"), col("wb")).cast("double"))
      .withColumn("rawjac", col("i") / (size(col("wa")) + size(col("wb")) - col("i")))
      .where(col("rawjac") >= tau)
      .select(col("a"), col("b"), round(col("rawjac"), 4).as("jac"))
  }

  val q37_minhash_lsh_pairs = QueryDef.unchecked("q37_minhash_lsh_pairs") { (s, d) =>
    minHashLshPairs(
      tokens(s, d).where(col("doc_id") < 100).select("doc_id", "word").distinct(),
      0.8)
      .orderBy("a", "b")
  }

  /** Connected components of the undirected graph `pairs(a, b)`: one
    * `(id: long, rep: long)` row per endpoint, `rep` the MINIMUM id of
    * its component. Endpoints are non-null ids (every consumer's pairs
    * come out of id joins). Two regimes, split on the directed edge
    * count that the edges checkpoint measures as it writes (an
    * `observe` metric folded into that one job, no extra pass):
    *
    *  - at most [[DriverFinishMaxEdges]] directed edges: collect the
    *    checkpointed edges once (`src <= dst`, so each pair arrives once
    *    and self-pairs keep their node) and run min-root union-find in
    *    the driver ([[unionFindLabels]]); the labels come back as a
    *    one-partition relation: one checkpoint and one collect,
    *    whatever the graph's depth.
    *    This is the small-residual finish of Kiveris et al. (SoCC 2014):
    *    once the graph fits in one task, per-round scheduling latency is
    *    all a distributed round would buy.
    *  - above it: min-label propagation ACCELERATED WITH POINTER JUMPING,
    *    the only regime that runs on a graph too large for the driver.
    *    Each round every node adopts the smallest label among itself and
    *    its neighbors (the Pregel shape), then labels compose through
    *    themselves — `L'(v) = min(L(v), L(L(v)))` — so the propagation
    *    reach roughly DOUBLES per round and convergence is
    *    O(log diameter), not O(diameter). Plain propagation needs ~999
    *    rounds on a 1000-node path (and a measured 57-vector near-dup
    *    chain in the embeddings fixture already blew a 20-round cap); the
    *    jump closes both in ~10. The alternative (large-star/small-star
    *    edge contraction, Kiveris et al.) has the same round bound but
    *    rewrites the EDGE SET through two join+distinct phases per round —
    *    measured 1.4–2.5× slower across q48/q71–q75 on the fixture because
    *    near-dup pair graphs are shallow and the per-round constant
    *    dominates. Here edges are checkpointed ONCE and only the
    *    node-sized label table is rewritten; the jump join touches labels
    *    only. Driver coordinates the loop, executors do all data work;
    *    `localCheckpoint` truncates the growing lineage each round.
    *
    * Both regimes are exact and agree row for row. Labels only ever
    * decrease, so the loop's fixpoint test stays one scalar sum per
    * round, and at the fixpoint labels are root-consistent
    * (`L(L(v)) = L(v)`) and edge-consistent (both endpoints equal), i.e.
    * every node carries its component's minimum id. Union-find that
    * always hangs the larger root under the smaller one ends with each
    * component's root at its minimum id, the same labels. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponents(pairs, maxIter, DriverFinishMaxEdges)

  /** Directed edge count (2 per input pair) at or below which
    * [[connectedComponents]] finishes in the driver. Measured at
    * local[4] (4-core VM, 4 GB heap) on random graphs of m pairs over m
    * nodes, labels counted, warm runs; heap is the JVM's summed heap-pool
    * peak during the call (driver and local executors share it):
    * {{{
    *   directed  nodes  driver finish  loop       heap peak GB       labels
    *   edges                                      (finish / loop)    kept
    *   1e4       4.3k   0.44-0.53 s    3.9-4.6 s  0.13 / 0.50-0.65   <1 MB
    *   1e5       43k    0.57-0.59 s    5.9-6.4 s  0.19 / 0.78-0.96    3 MB
    *   1e6       432k   2.4-2.5 s      35-41 s    0.49-0.64 / 2.6    29 MB
    *   4e6       1.7M   11.7-14.1 s    (not run)  1.35 / -          117 MB
    * }}}
    * The finish wins at every measured size, so the bound is set by
    * driver memory, not speed: its transient peak grows with the edge
    * count and passes 1 GB (the order of a default driver heap) between
    * 1e6 and 4e6 edges. 2^20 keeps it near 0.6 GB. */
  private val DriverFinishMaxEdges: Long = 1L << 20

  /** [[connectedComponents]] with the driver-finish bound as a
    * parameter, so tests can force the loop (`driverMaxEdges = 0`). */
  private[graft] def connectedComponents(
      pairs: DataFrame, maxIter: Int, driverMaxEdges: Long): DataFrame = {
    val (edges, nEdges) = componentEdges(pairs)
    if (nEdges <= driverMaxEdges) unionFindLabels(edges)
    else propagateLabels(edges, maxIter)
  }

  /** The symmetric directed edge set of `pairs`, checkpointed and keyed
    * by `dst`, with its row count observed during that same job. */
  private[graft] def componentEdges(pairs: DataFrame): (DataFrame, Long) = {
    // r13 (guide §2.4, the pageRank treatment): the loop's STATIC side is
    // partitioned by its loop-join key (dst) ONCE — in the non-broadcast
    // regime (node-sized label tables at 100 TB cannot broadcast) the
    // per-round prop join otherwise re-shuffles the EDGE-sized table
    // every round while only the node-sized label table changes
    // (`rounds` edge exchanges → 1). Checkpoints.cut (not a raw
    // localCheckpoint) so the restored partitioning metadata reaches the
    // loop's planner under AQE (CheckpointMeta) and the
    // reliable-checkpoint knob covers this loop too.
    val obs = org.apache.spark.sql.Observation()
    val edges = Checkpoints.cut(pairs.select(col("a").cast("long").as("src"),
        col("b").cast("long").as("dst"))
      .union(pairs.select(col("b").cast("long").as("src"),
        col("a").cast("long").as("dst")))
      .repartition(col("dst"))
      .observe(obs, count(lit(1)).as("n")))
    (edges, obs.get("n").asInstanceOf[Long])
  }

  /** Driver finish: min-root union-find over the collected edges, on
    * primitive arrays (sorted distinct ids, an `Int` parent array). */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    // (src, dst) endpoints flattened, one primitive array per partition
    val ends = edges.where(col("src") <= col("dst"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val b = Array.newBuilder[Long]
        rows.foreach { r => b += r.getLong(0); b += r.getLong(1) }
        Iterator.single(b.result())
      }.collect().flatten
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices) if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var v = x
      while (parent(v) != v) { parent(v) = parent(parent(v)); v = parent(v) }
      v
    }
    var e = 0
    while (e < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, ends(e)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, ends(e + 1)))
      // ids are sorted, so the smaller index is the smaller id
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      e += 2
    }
    val labels = (ids.take(n), Array.tabulate(n)(i => ids(find(i))))
    // an RDD scan with its true size, not a LocalRelation: like the
    // loop's checkpoint it stays opaque to the optimizer (no joins folded
    // away on an empty label set, no range sort re-sampling a scan-local
    // child), and the planner can still broadcast it when small
    org.apache.spark.sql.graftvec.PlanBridge.ofRdd(edges.sparkSession,
      Seq(AttributeReference("id", LongType)(), AttributeReference("rep", LongType)()),
      edges.sparkSession.sparkContext.parallelize(Seq(labels), 1).flatMap {
        case (id, rep) => id.indices.iterator.map(i => InternalRow(id(i), rep(i)))
      },
      n)
  }

  /** Loop regime of [[connectedComponents]]: pointer-jumping label
    * propagation over the checkpointed `edges` until no label moves. */
  private def propagateLabels(edges: DataFrame, maxIter: Int): DataFrame = {
    // r13 (VERDICT r12 #6): the convergence sum rides the checkpoint
    // materialization as an observe() metric — CollectMetrics folds
    // Σrep into the same job that writes the checkpoint blocks, so the
    // separate one-stage labelSum job per round disappears (exact, no
    // accumulator-retry heuristics: metrics come from the completed
    // query execution). The loop's remaining per-round cost is the
    // prop-join job itself.
    def checkpointWithSum(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val cp = Checkpoints.cut(
        df.observe(obs, coalesce(sum(col("rep")), lit(0L)).as("ls")))
      (cp, obs.get("ls").asInstanceOf[Long])
    }
    // round 0 folded into init: adopt min(self, neighbors) immediately
    var (labels, prevSum) = checkpointWithSum(edges.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("rep"))
      .select(col("src").as("id"), col("rep")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("rep"))
      val oneHop = labels.select("id", "rep").union(prop)
        .groupBy("id").agg(min("rep").as("rep"))
      // pointer jump: follow the label's own label — labels is node-sized
      // (≪ edges), so each self-join is cheap relative to the prop join.
      // oneHop ids are unique and L(rep) <= rep, so the jump is a 1:1
      // left join + coalesce, no re-aggregation needed. Near-dup graphs
      // are shallow and converge in 2-3 plain rounds; only engage the
      // jump once plain propagation has NOT closed by round 3, so the
      // common case pays nothing and deep chains still double per round.
      // r12 note: two variants were built and MEASURED WORSE on the
      // 12-round q74 graph, so this shape stands — a double
      // jump(jump(·)) per round (the un-checkpointed round subtree
      // appears 4× in the plan; q74 3.2→5.0 s) and jump-from-round-0
      // (extra join stages in the shallow rounds buy nothing; 4.7 s).
      // The round cost is stage-scheduling latency, not data — fewer,
      // heavier rounds is the wrong trade here.
      // labels only ever decrease, so the fixpoint test is one scalar
      // aggregate per round, not a join of old vs new — and it rides
      // the checkpoint job (checkpointWithSum above), not its own
      // r13 reprice of the r12-rejected double jump (VERDICT r12 "Not
      // yet optimized" #2): re-A/B'd with the checkpoint-partitioning
      // restore in place — jump(jump(·)) per round still measured WORSE
      // on the same interleaved min-of-5 subset (q74 4.39 vs 3.59 s,
      // subset total 10.74 vs 9.58 s): the 4x oneHop subtree
      // re-execution outweighs the halved round count at any scale
      // where rounds are latency-bound. Single jump stands.
      val (next, nextSum) = checkpointWithSum(if (iter < 2) oneHop else {
        val hop2 = oneHop.select(col("id").as("jid"), col("rep").as("jrep"))
        oneHop.join(hop2, col("rep") === col("jid"), "left")
          .select(col("id"), coalesce(col("jrep"), col("rep")).as("rep"))
      })
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    require(converged, s"label propagation did not converge in $maxIter rounds")
    labels
  }

  /** q48: dedup clustering — the step AFTER near-dup detection: group
    * the q26 near-dup pairs into connected components and elect the
    * min-id representative (the survivor in a keep-one dedup policy). */
  val q48_dedup_clusters = QueryDef(
    "q48_dedup_clusters",
    s"""WITH RECURSIVE $TokensCte,
      |t AS (SELECT DISTINCT doc_id, word FROM tokens WHERE doc_id < 100),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |          FROM t x JOIN t y ON x.word = y.word AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id),
      |pairs AS (SELECT a, b FROM inter
      |          JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION SELECT b, a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
      |SELECT id AS doc_id, MIN(r) AS cluster_rep
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pairs = exactJaccardPairs(
      tokens(s, d).where(col("doc_id") < 100).select("doc_id", "word").distinct(),
      0.8).select("a", "b")
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
      .orderBy("doc_id")
  }

  /** q49: reproducible stratified sampling — per language, rank docs by
    * a content hash (NOT rand(): re-runs and engines agree bit-for-bit)
    * and keep the first 10. The standard deterministic-subset trick for
    * training-data pipelines: the sample is a pure function of the data,
    * so a 100 TB re-run (or a different engine) selects the same docs.
    *
    * r11: bottom-10-per-lang was a ROW_NUMBER window — one language's
    * whole corpus in ONE task (at 100 TB `en` owns most of a crawl; the
    * q20/q68 class). Now a bounded [[graft.functions.TopKRows]]
    * partial+final hash aggregate over the NEGATED hash bucket (top-10
    * of (−hb DESC, doc_id ASC) ≡ bottom-10 of (hb ASC, doc_id ASC), a
    * total order), shipping ≤10 pairs per lang per map partition —
    * rows bit-identical to the window's rn ≤ 10. */
  val q49_stratified_sample = QueryDef(
    "q49_stratified_sample",
    """WITH h AS (
      |  SELECT lang, doc_id,
      |    list_reduce(list_prepend(CAST(13 AS BIGINT),
      |      list_transform(list_filter(regexp_split_to_array(text, ''), c -> length(c) > 0),
      |                     c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) % 1000 AS hb
      |  FROM documents),
      |r AS (SELECT lang, doc_id, hb,
      |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hb, doc_id) AS rn
      |      FROM h)
      |SELECT lang, doc_id, hb, rn FROM r WHERE rn <= 10
      |ORDER BY lang, rn""".stripMargin) { (s, d) =>
    val bottom10 = udaf(new graft.functions.TopKRows(10))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        (Text.polyHash(col("text"), 13L) % 1000L).as("hb"))
      .groupBy("lang")
      .agg(bottom10((-col("hb")).cast("double"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("lang"), col("r._2").as("doc_id"),
        (-col("r._1")).cast("long").as("hb"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("lang", "rn")
  }

  /** Hamming-neighbor pairs via pigeonhole banding: any two `bits`-bit
    * signatures within hamming distance ≤ k must agree EXACTLY on at
    * least one of k+1 disjoint bands — so a band-bucket equi-join
    * generates a candidate superset losslessly (this is LSH's shape but
    * with a correctness guarantee, no recall loss), and the original
    * distance predicate re-filters. O(pairs-per-bucket) instead of
    * O(n²): the all-pairs comparison never happens.
    *
    * OPT-IN HOT-BUCKET GUARD (`maxBucket > 0`): n identical signatures
    * share every band bucket, so the exact join emits n²/2 in-bucket
    * candidates on a degenerate corpus. With the guard, buckets with ≤
    * `maxBucket` members keep the exact all-pairs path; larger buckets
    * emit STAR edges only (bucket-min id → member, O(n) per bucket).
    * Honest limits of the guarded mode: star edges still pass through
    * the final `dist ≤ k` filter, so a hot-bucket member FARTHER than k
    * from the bucket-min representative loses its star edge — retrieval
    * reachability inside an over-cap bucket is preserved only for
    * members within k of that representative (members beyond it would
    * need the enumerated pairs the guard exists to avoid). The DEFAULT
    * (`maxBucket = 0`) is the exact contract — every pair within
    * hamming distance k, the semantics the q50 oracle checks — and
    * skips the per-bucket window entirely (one fewer exchange). Callers
    * deduplicating adversarial web-scale corpora opt in explicitly. */
  def hammingNeighborPairs(sigs: DataFrame, k: Int, bits: Int = 16,
                           id: String = "doc_id", sig: String = "simhash",
                           maxBucket: Int = 0): DataFrame = {
    val nBands = k + 1
    val bandWidth = bits / nBands
    require(bits % nBands == 0, s"$bits bits must split into ${k + 1} bands")
    val banded = sigs.select(col(id), col(sig),
        explode(sequence(lit(0), lit(nBands - 1))).as("bandIdx"))
      .withColumn("bandVal",
        expr(s"shiftright($sig, bandIdx * $bandWidth) & ${(1 << bandWidth) - 1}"))
    val pairs =
      if (maxBucket <= 0) {
        // exact: plain band-bucket equi-join, no guard metadata needed
        banded.as("x").join(banded.as("y"),
            col("x.bandIdx") === col("y.bandIdx") &&
              col("x.bandVal") === col("y.bandVal") &&
              col(s"x.$id") < col(s"y.$id"))
          .select(col(s"x.$id").as("a"), col(s"y.$id").as("b"),
            bit_count(col(s"x.$sig").bitwiseXOR(col(s"y.$sig")))
              .cast("long").as("dist"))
      } else {
        // guard metadata rides the same key the candidate join hashes on —
        // one extra window, no extra shuffle family (the
        // bucketGuardedCandidates shape). The signature rides the band
        // rows and the rep's signature comes off the same window exchange
        // (first over the id-ordered frame), so no lookup join is needed.
        val wB = Window.partitionBy("bandIdx", "bandVal")
        val sized = banded
          .withColumn("bn", count(lit(1)).over(wB))
          .withColumn("rep", min(col(id)).over(wB))
          .withColumn("repSig", first(col(sig)).over(wB.orderBy(col(id))))
        val small = sized.where(col("bn") <= maxBucket)
          .select(col(id), col(sig), col("bandIdx"), col("bandVal"))
        val smallPairs = small.as("x").join(small.as("y"),
            col("x.bandIdx") === col("y.bandIdx") &&
              col("x.bandVal") === col("y.bandVal") &&
              col(s"x.$id") < col(s"y.$id"))
          .select(col(s"x.$id").as("a"), col(s"y.$id").as("b"),
            bit_count(col(s"x.$sig").bitwiseXOR(col(s"y.$sig")))
              .cast("long").as("dist"))
        val starPairs = sized.where(col("bn") > maxBucket && col(id) =!= col("rep"))
          .select(col("rep").as("a"), col(id).as("b"),
            bit_count(col("repSig").bitwiseXOR(col(sig))).cast("long").as("dist"))
        smallPairs.union(starPairs)
      }
    pairs.distinct().where(col("dist") <= k)
  }

  /** q50: SimHash neighbor query — the retrieval half of the SimHash
    * dedup story (q33 computes signatures): pairs whose 16-bit
    * signatures differ in ≤ 3 bits. Computed via the banded
    * [[hammingNeighborPairs]] (exact, no all-pairs join); hamming via
    * built-in `bit_count(xor)` (codegen'd). */
  val q50_simhash_neardup = QueryDef(
    "q50_simhash_neardup",
    s"""WITH $TokensCte,
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tokens WHERE doc_id < 100
      |       GROUP BY doc_id, word),
      |h AS (SELECT doc_id, tf, $WordHashSql AS wh FROM tf),
      |bits AS (SELECT doc_id, b,
      |         SUM(CASE WHEN (wh >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
      |         FROM h, (SELECT unnest(range(0, 16)) AS b)
      |         GROUP BY doc_id, b),
      |sh AS (SELECT doc_id,
      |       SUM(CASE WHEN s > 0 THEN CAST(1 << b AS BIGINT) ELSE 0 END) AS simhash
      |       FROM bits GROUP BY doc_id)
      |SELECT x.doc_id AS a, y.doc_id AS b,
      |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS dist
      |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    hammingNeighborPairs(simhashOf(s, d), k = 3)
      .select("a", "b", "dist")
      .orderBy("a", "b")
  }

  /** Lowercased a–z word array of a doc — the shared Spark-side tokenizer
    * as an ARRAY column (the exploded twin is [[tokens]]). */
  private def wordsCol: Column =
    filter(split(lower(col("text")), "[^a-z]+"), w => length(w) > 0)

  /** q54: within-document repetition filter (the Gopher-rules shape):
    * fraction of word bigrams that are duplicates of an earlier bigram
    * in the same doc. Pure per-row array algebra — stays in whole-stage
    * codegen, NO shuffle except the output sort; the 100 TB cost is one
    * scan. Docs over the 0.2 threshold are flagged for removal.
    *
    * Scale note (sf3 audit): bigrams are compared as
    * `xxhash64(word_i, word_{i+1})` — no concatenated bigram strings are
    * ever materialized, so the per-row cost is fixed-width regardless of
    * token length (the sf1/sf3 runs showed the string formulation
    * scaling with BYTES, not rows). CONTRACT: the distinct count is over
    * 64-bit hashes, collision-exposed at ~n²/2⁶⁵ per document (~1e-12
    * for a 10k-word doc); the DuckDB oracle keeps exact string bigrams
    * and hash-matches at every tested SF, and TextPipelineSpec pins
    * hashed == string distinct counts on the fixture corpus.
    *
    * Second sf10 finding: a global ORDER BY directly over an expensive
    * scan-local chain runs that chain TWICE — the range partitioner's
    * sampling job re-executes the child (measured 2.8× at sf3). The
    * `repartition(doc_id)` below inserts a hash exchange between the
    * chain and the sort, so sampling reads shuffle output instead of
    * recomputing; the shuffled rows are the five tiny output columns,
    * not the arrays. Pattern applies to any sort-terminated scan-local
    * operator whose per-row cost dwarfs a shuffle write. */
  val q54_repetition_filter = QueryDef(
    "q54_repetition_filter",
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS words
      |  FROM documents),
      |b AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(words)),
      |                   i -> words[i] || ' ' || words[i+1]) AS bg
      |  FROM w WHERE len(words) >= 2)
      |SELECT doc_id,
      |  CAST(len(bg) AS BIGINT) AS n_bigrams,
      |  CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct,
      |  ROUND(1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4) AS dup_frac,
      |  CAST(CASE WHEN 1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) > 0.2
      |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
      |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
    // one-scan native kernel: no word array, no per-bigram lambda —
    // graft.expressions.VectorExpressions.bigramHashStats scaladoc.
    // The gate is the early-exit has_min_words predicate: a filter on
    // bs.n_bigrams gets pushed below the projection by re-inlining the
    // kernel (two full evaluations per row — PLANS.md q54 history)
    Tables.documents(s, d)
      .where(graft.expressions.VectorExpressions.hasMinWords(col("text"), 2))
      .select(col("doc_id"),
        graft.expressions.VectorExpressions.bigramHashStats(col("text")).as("bs"))
      .select(col("doc_id"),
        col("bs.n_bigrams").as("n_bigrams"),
        col("bs.n_distinct").as("n_distinct"),
        (lit(1.0) - col("bs.n_distinct").cast("double") / col("bs.n_bigrams"))
          .as("raw"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        round(col("raw"), 4).as("dup_frac"),
        when(col("raw") > 0.2, 1L).otherwise(0L).as("flagged"))
      .repartition(col("doc_id"))
      .orderBy("doc_id")
  }

  /** q55: cross-corpus boilerplate detection — word trigrams shared by
    * ≥ 3 distinct documents (the "find repeated template text" step of a
    * crawl-cleaning pipeline). explode→hash-agg with map-side partial
    * aggregation; hot boilerplate shingles are exactly the keys partial
    * agg collapses best, so the shuffle carries one row per (task,
    * shingle), not one per occurrence. */
  val q55_boilerplate_ngrams = QueryDef(
    "q55_boilerplate_ngrams",
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS words
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(words) - 1),
      |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
      |  FROM w WHERE len(words) >= 3)
      |SELECT shingle,
      |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_total
      |FROM g GROUP BY shingle HAVING COUNT(DISTINCT doc_id) >= 3
      |ORDER BY n_docs DESC, n_total DESC, shingle""".stripMargin) { (s, d) =>
    // one-scan native shingle kernel (allocates only the output strings);
    // exploding an empty array drops short docs, so no words-count gate
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.expressions.VectorExpressions.wordNgrams(col("text"), 3))
          .as("shingle"))
      .groupBy("shingle")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_total"))
      .where(col("n_docs") >= 3)
      .orderBy(col("n_docs").desc, col("n_total").desc, col("shingle"))
  }

  /** The per-lang window routing of q56 and q80: the hottest `lang` of
    * the fixture's documents picks the dense window or its RangeStitch
    * form ([[RangeStitch.routeBySkew]] at the kernel's 2M crossover).
    * The probe runs on the pruned (doc_id, lang) projection, so it never
    * pays the tokenizer or polyHash, and is memoized per fixture dir. */
  private def routeByLang(s: SparkSession, d: String)(
      dense: => DataFrame, ranged: => DataFrame): DataFrame =
    RangeStitch.routeBySkew(Tables.documents(s, d).select("doc_id", "lang"),
      Seq(col("lang")), Seq(col("lang"), col("doc_id")),
      probeCacheKey = Some(d))(dense, ranged)

  /** q56: token-budget shard packing — assign each doc (per lang, in
    * doc_id order) to the training shard its running token count starts
    * in. The sequence-packing step of a training-data pipeline as a
    * per-lang cumsum.
    *
    * r11: the old note "at real scale lang is too coarse a partition
    * key — production would pack per (lang, hash bucket)" retires: the
    * builder now routes between the dense window cumsum (even langs)
    * and [[RangeStitch.withRangePrefixSum]] (a hot language is split
    * across partitions by the range exchange and stitched through
    * per-(partition, lang) sum offsets — EXACT, same rows), by the
    * measured hottest-lang probe. The probe runs on the pruned
    * (doc_id, lang) projection so it never pays the tokenizer. */
  val q56_shard_pack = QueryDef(
    "q56_shard_pack",
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                         x -> length(x) > 0)) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_tok,
      |    SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT doc_id, lang, n_tok,
      |  CAST(FLOOR((cum - n_tok) / 500.0) AS BIGINT) AS shard
      |FROM c ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(wordsCol).cast("long").as("n_tok"))
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = routeByLang(s, d)(
      base.withColumn("cum", sum("n_tok").over(w)),
      RangeStitch.withRangePrefixSum(base, "lang", Seq("doc_id"),
        "n_tok", "cum"))
    cum
      .select(col("doc_id"), col("lang"), col("n_tok"),
        floor((col("cum") - col("n_tok")) / lit(500.0)).cast("long").as("shard"))
      .orderBy("lang", "doc_id")
  }

  /** q57: language-model quality scoring — per-document cross-entropy
    * (bits/token) under the corpus's own unigram LM, the classic
    * perplexity-style filter of a training-data pipeline (outlier docs
    * with unusual vocabulary score high; near-boilerplate scores low).
    * Self-contained: the "model" is the corpus unigram distribution, so
    * no external model table is needed and the DuckDB oracle is exact.
    *
    * Scale posture: one explode→(doc_id, word) hash-agg shuffle builds
    * per-doc counts; the vocab table derived from it is much smaller than
    * the corpus, but at web scale it is NOT broadcast-small — a 100 TB
    * deduplicated corpus has ~10⁷ distinct words, i.e. hundreds of MB of
    * (word, count) rows, far over the 10 MB auto threshold. So the
    * vocab join carries no hint: AQE broadcasts it when the runtime size
    * statistics say it fits (as at every test SF) and falls back to a
    * shuffle join of the (doc_id, word, c) AGGREGATE — one extra exchange
    * of the compacted aggregate, never of the corpus — when it doesn't.
    * Only the 1-row token total is force-broadcast. */
  val q57_lm_xent = QueryDef(
    "q57_lm_xent",
    """WITH w AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                       x -> length(x) > 0)) AS word
      |  FROM documents),
      |dc AS (
      |  SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
      |vocab AS (
      |  SELECT word, SUM(c) AS cnt FROM dc GROUP BY 1),
      |tot AS (SELECT SUM(cnt) AS t FROM vocab)
      |SELECT doc_id,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  ROUND(-SUM(c * log2(cnt / t)) / SUM(c), 4) AS xent_bits
      |FROM dc JOIN vocab USING (word) CROSS JOIN tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    lmCrossEntropy(Tables.documents(s, d))
  }

  /** Cross-entropy (bits/token) of each doc under the corpus unigram
    * distribution — the operator behind [[q57_lm_xent]]; takes any
    * (doc_id, text) frame so specs can hand-compute tiny corpora. */
  def lmCrossEntropy(docs: DataFrame): DataFrame = {
    val dc = docs
      .select(col("doc_id"), explode(wordsCol).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val vocab = dc.groupBy("word").agg(sum("c").as("cnt"))
    val total = vocab.agg(sum("cnt").as("t"))
    // No broadcast hint on vocab: let AQE pick broadcast-vs-shuffle from
    // the actual post-aggregation size (see scale posture in [[q57_lm_xent]]).
    dc.join(vocab, "word")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum("c").cast("long").as("n_tokens"),
        round(-sum(col("c") * log2(col("cnt") / col("t"))) / sum(col("c")), 4)
          .as("xent_bits"))
      .orderBy("doc_id")
  }

  /** q58: dedup survivor selection — the keep-WHICH-one policy step
    * after clustering: per q48 near-dup cluster, elect the member with
    * the best q29 quality score (ties → min doc_id). Composes three
    * pipeline stages (near-dup pairs → components → quality ranking),
    * the end-to-end shape of a real corpus dedup.
    *
    * Scale posture: the clusters frame only holds docs that appear in a
    * near-dup pair, but at real-corpus dup rates (routinely 30–80% of
    * documents) that is O(corpus) ids — so the join is left UN-hinted:
    * AQE/statistics broadcast it when it is genuinely small and fall
    * back to a shuffled join when it is not (a forced broadcast of
    * billions of ids would OOM at scale). The survivor election window
    * partitions by cluster_rep (bounded groups). ORDER BY uses the
    * ROUNDED score so rank is reproducible across engines. */
  val q58_dedup_survivors = QueryDef(
    "q58_dedup_survivors",
    s"""WITH RECURSIVE $TokensCte,
      |t AS (SELECT DISTINCT doc_id, word FROM tokens WHERE doc_id < 100),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |          FROM t x JOIN t y ON x.word = y.word AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id),
      |pairs AS (SELECT a, b FROM inter
      |          JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION SELECT b, a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_rep
      |             FROM reach GROUP BY id),
      |score AS (SELECT doc_id,
      |  ROUND(ln(1 + COUNT(*)) *
      |    (1 - CAST(SUM(CASE WHEN word IN ('the','a') THEN 1 ELSE 0 END) AS DOUBLE)
      |         / COUNT(*)), 4) AS score
      |  FROM tokens GROUP BY doc_id),
      |m AS (SELECT c.cluster_rep, c.doc_id, s.score,
      |  ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
      |                     ORDER BY s.score DESC, c.doc_id) AS rn,
      |  COUNT(*) OVER (PARTITION BY c.cluster_rep) AS n_members
      |  FROM clusters c JOIN score s ON s.doc_id = c.doc_id)
      |SELECT cluster_rep, doc_id AS survivor, score,
      |  CAST(n_members AS BIGINT) AS n_members
      |FROM m WHERE rn = 1 ORDER BY cluster_rep""".stripMargin) { (s, d) =>
    val toks = tokens(s, d)
    val pairs = exactJaccardPairs(
      toks.where(col("doc_id") < 100).select("doc_id", "word").distinct(), 0.8)
      .select("a", "b")
    val clusters = connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("rep").as("cluster_rep"))
    val stop = col("word").isin("the", "a")
    val score = toks.groupBy("doc_id").agg(
      round(log(lit(1) + count(lit(1))) *
        (lit(1) - sum(when(stop, 1).otherwise(0)).cast("double") / count(lit(1))), 4)
        .as("score"))
    val w = Window.partitionBy("cluster_rep").orderBy(col("score").desc, col("doc_id"))
    val wc = Window.partitionBy("cluster_rep")
    score.join(clusters, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(wc).cast("long"))
      .where(col("rn") === 1)
      .select(col("cluster_rep"), col("doc_id").as("survivor"),
        col("score"), col("n_members"))
      .orderBy("cluster_rep")
  }

  /** q59: benchmark decontamination — for every training doc (source ≠
    * 'src0'), the fraction of its distinct word trigrams that occur
    * anywhere in the held-out benchmark set (source = 'src0'). The
    * eval-leak scan every training pipeline runs before a data release.
    *
    * Scale posture: the benchmark shingle set is bounded by the eval
    * suites (tiny vs the corpus) → distinct once, BROADCAST into the
    * train side's left join; the train side is one explode → per-doc
    * distinct → hash-agg, all with map-side partial aggregation. The
    * 100 TB cost is one scan of the corpus. */
  /** (doc_id, source, sh): every word trigram of every doc — the shared
    * shingle stream behind q59's exact decontamination and q93's
    * bloom-prefiltered twin. */
  private[graft] def triShingles(s: SparkSession, d: String): DataFrame =
    // r12 (guide §4): the native word_ngrams kernel (one byte scan,
    // allocates exactly the output shingles) replaces the lower/split/
    // transform/concat_ws chain — the q55/q83 kernel applied to the
    // shared q59/q93/q100/q114 shingle stream. Same strings
    // (TextPipelineSpec pins kernel == built-in on the whole fixture);
    // docs with < 3 words yield an empty array → no rows, as before.
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(graft.expressions.VectorExpressions.wordNgrams(col("text"), 3))
          .as("sh"))

  val q59_decontam = QueryDef(
    "q59_decontam",
    """WITH w AS (
      |  SELECT doc_id, source,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS words
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, unnest(list_transform(range(1, len(words) - 1),
      |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
      |  FROM w WHERE len(words) >= 3),
      |bench AS (SELECT DISTINCT sh FROM g WHERE source = 'src0'),
      |train AS (SELECT DISTINCT doc_id, sh FROM g WHERE source <> 'src0'),
      |m AS (SELECT t.doc_id, CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END AS hit
      |      FROM train t LEFT JOIN bench b ON t.sh = b.sh)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(hit) AS BIGINT) AS n_hit,
      |  ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS contam_frac,
      |  CAST(CASE WHEN CAST(SUM(hit) AS DOUBLE) / COUNT(*) >= 0.5
      |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val sh = triShingles(s, d)
    decontamBroadcast(sh.where(col("source") =!= "src0"),
      sh.where(col("source") === "src0"))
  }

  /** Decontamination scoring tail shared by the broadcast and bloom
    * paths: (doc_id, n_shingles, n_hit) → contamination fraction and
    * the ≥0.5 flag, totally ordered. */
  private def contamOut(counts: DataFrame): DataFrame =
    counts.select(col("doc_id"), col("n_shingles"), col("n_hit"),
      round(col("n_hit").cast("double") / col("n_shingles"), 4).as("contam_frac"),
      when(col("n_hit").cast("double") / col("n_shingles") >= 0.5, 1L)
        .otherwise(0L).as("flagged"))
      .orderBy("doc_id")

  /** Broadcast-join decontamination core behind [[q59_decontam]]:
    * `train` is a (doc_id, sh) shingle relation, `bench` a (sh) one
    * (neither need be distinct). The bench set rides a forced broadcast
    * — the right plan while the eval suite fits a hash table; see
    * [[decontamBloom]] for the regime where it doesn't (crossover
    * measured in BLOOMX_r07.json and BLOOMX_r07_localcluster.json). */
  def decontamBroadcast(train: DataFrame, bench: DataFrame): DataFrame = {
    val b = bench.select("sh").distinct().withColumn("hit", lit(1L))
    contamOut(train.select("doc_id", "sh").distinct()
      .join(broadcast(b), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum("hit"), lit(0L)).as("n_hit")))
  }

  /** q60: BM25 relevance scoring of the corpus against a fixed query
    * term set — the ranked-retrieval primitive behind "keep docs
    * relevant to topic X" training-data curation. Okapi BM25 with
    * k1=1.2, b=0.75 and the +1 idf variant (never negative).
    *
    * Scale posture: per-doc term frequencies and length are PER-ROW
    * array expressions (no explode, no groupBy — the corpus never
    * shuffles); the only aggregates are the 1-row corpus stats
    * (N/avgdl/df per query term), broadcast back; top-20 is
    * TakeOrdered, not a global sort. One scan, one scalar-agg
    * exchange — the minimal 100 TB plan for fixed-query retrieval.
    * ORDER BY uses the ROUNDED score so ranking is reproducible
    * across engines. */
  val q60_bm25 = QueryDef(
    "q60_bm25",
    s"""WITH $TokensCte,
      |dl AS (SELECT doc_id, COUNT(*) AS len FROM tokens GROUP BY doc_id),
      |stats AS (SELECT COUNT(*) AS n, AVG(len) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tokens
      |       WHERE word IN ('spark', 'join', 'table') GROUP BY doc_id, word),
      |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word),
      |s AS (SELECT tf.doc_id,
      |  SUM(ln((n - df + 0.5) / (df + 0.5) + 1) *
      |      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / avgdl))) AS score
      |  FROM tf JOIN df ON tf.word = df.word
      |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, ROUND(score, 4) AS bm25
      |FROM s ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
    bm25Scores(Tables.documents(s, d), Seq("spark", "join", "table"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** Okapi BM25 (k1=1.2, b=0.75, +1 idf) of every doc containing at
    * least one query term — the operator behind [[q60_bm25]]; takes any
    * (doc_id, text) frame so specs can model-check tiny corpora. */
  def bm25Scores(docs: DataFrame, terms: Seq[String]): DataFrame = {
    def tfCol(t: String): Column =
      size(filter(col("words"), w => w === lit(t))).cast("long")
    val per = docs
      .select(col("doc_id"), wordsCol.as("words"))
      .select(Seq(col("doc_id"), size(col("words")).cast("long").as("len")) ++
        terms.map(t => tfCol(t).as(s"tf_$t")): _*)
    // 1-row corpus stats: N/avgdl over docs with >=1 token, df per term
    val statCols =
      Seq(count(when(col("len") > 0, 1)).as("n"),
        avg(when(col("len") > 0, col("len"))).as("avgdl")) ++
        terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = per.agg(statCols.head, statCols.tail: _*)
    // k1=1.2, b=0.75: idf(t) * tf*(k1+1) / (tf + k1*(1-b + b*len/avgdl))
    val score = terms.map { t =>
      log((col("n") - col(s"df_$t") + 0.5) / (col(s"df_$t") + 0.5) + 1) *
        col(s"tf_$t") * 2.2 /
        (col(s"tf_$t") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avgdl")))
    }.reduce(_ + _)
    per.crossJoin(broadcast(stats))
      .where(terms.map(t => col(s"tf_$t")).reduce(_ + _) > 0)
      .select(col("doc_id"), round(score, 4).as("bm25"))
  }

  /** q61: robust length-outlier filter — flag docs whose n_chars falls
    * outside their language's exact [p05, p95] band. The
    * robust-statistics twin of q29's heuristic scoring: thresholds come
    * from the data, not constants.
    *
    * Scale posture: per-lang exact percentiles are one hash-agg over
    * (lang → tdigest-sized state); the tiny threshold table broadcasts
    * back, so flagging is a scan-local comparison. */
  val q61_length_outliers = QueryDef(
    "q61_length_outliers",
    """WITH b AS (
      |  SELECT lang,
      |    quantile_cont(n_chars, 0.05) AS lo_raw,
      |    quantile_cont(n_chars, 0.95) AS hi_raw
      |  FROM documents GROUP BY lang)
      |SELECT doc_id, d.lang, n_chars,
      |  ROUND(lo_raw, 2) AS lo, ROUND(hi_raw, 2) AS hi,
      |  CAST(CASE WHEN n_chars < lo_raw OR n_chars > hi_raw THEN 1 ELSE 0 END
      |       AS BIGINT) AS outlier
      |FROM documents d JOIN b ON d.lang = b.lang
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val bands = docs.groupBy("lang").agg(
      expr("percentile(n_chars, 0.05)").as("lo_raw"),
      expr("percentile(n_chars, 0.95)").as("hi_raw"))
    docs.join(broadcast(bands), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("lo_raw"), 2).as("lo"), round(col("hi_raw"), 2).as("hi"),
        when(col("n_chars") < col("lo_raw") || col("n_chars") > col("hi_raw"), 1L)
          .otherwise(0L).as("outlier"))
      .orderBy("doc_id")
  }

  /** q65: incremental ingest dedup — the production "don't re-ingest"
    * step: from a new batch (doc_id ≡ 4 mod 5, an sf-stable split),
    * keep only docs whose exact text does NOT already exist in the
    * standing corpus (the other 4/5). A content anti-join.
    *
    * Scale posture: LEFT ANTI on the text key — Spark shuffles both
    * sides by the key's hash, so the exchange is corpus-hash-partitioned
    * exactly like a fingerprint bucketing; at real scale the standing
    * corpus side would be a bucketed table so only the new batch
    * shuffles. No driver-side state, no collect. */
  val q65_incremental_dedup = QueryDef(
    "q65_incremental_dedup",
    """SELECT n.doc_id, n.n_chars
      |FROM documents n
      |WHERE n.doc_id % 5 = 4
      |  AND NOT EXISTS (SELECT 1 FROM documents e
      |                  WHERE e.doc_id % 5 <> 4 AND e.text = n.text)
      |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val fresh = docs.where(col("doc_id") % 5 === 4)
    val standing = docs.where(col("doc_id") % 5 =!= 4).select("text")
    fresh.join(standing, Seq("text"), "left_anti")
      .select("doc_id", "n_chars")
      .orderBy("doc_id")
  }

  /** q66: positional token index — first occurrence position (1-based)
    * of every word per document, via `posexplode` (the
    * generator/UDTF-with-ordinality surface; DuckDB twin zips parallel
    * `unnest`s). The primitive behind positional inverted indexes and
    * lead-paragraph heuristics. Explode → hash-agg with map-side
    * partial min, one shuffle. */
  val q66_first_positions = QueryDef(
    "q66_first_positions",
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS words
      |  FROM documents WHERE doc_id < 50),
      |p AS (
      |  SELECT doc_id, unnest(words) AS word,
      |    unnest(range(1, len(words) + 1)) AS pos
      |  FROM w)
      |SELECT doc_id, word, CAST(MIN(pos) AS BIGINT) AS first_pos
      |FROM p GROUP BY doc_id, word
      |ORDER BY doc_id, word""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .where(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(wordsCol).as(Seq("pos0", "word")))
      .groupBy("doc_id", "word")
      .agg(min(col("pos0") + 1).cast("long").as("first_pos"))
      .orderBy("doc_id", "word")
  }

  /** Corpus-size threshold for `dedupCorpus(method = "auto")`: the
    * sf1-measured crossover (CROSSOVER_r07.json) has the banded path
    * already level with exact at n = 500 and 2.3× faster at n = 1,000
    * — the exact method's word-level self-join degenerates toward
    * all-pairs whenever documents share vocabulary, which real corpora
    * always do. Below the threshold exact also buys full transitive
    * recall (see [[dedupCorpus]]'s auto note). */
  val AutoDedupCrossover: Long = 1000L

  /** The `method = "auto"` decision, exposed for direct spec pinning. */
  def chooseDedupMethod(n: Long): String =
    if (n < AutoDedupCrossover) "exact" else "minhash-lsh"

  /** One-call corpus dedup — THE end-to-end pipeline a user of this
    * library runs: near-dup pair generation (exact Jaccard or the
    * MinHash-LSH scale path) → connected components → per-cluster
    * survivor election → original frame with the losing duplicates
    * removed. `electBy = "quality"` (default) elects by q29 quality
    * score (ties → min doc_id); `"first"` elects the earliest (min
    * doc_id) member — arrival order, the only election an incremental
    * stream can honor (verdicts, once emitted, are never revoked).
    *
    * Scale posture: with `method = "minhash-lsh"` no stage is ever
    * all-pairs (bucket join bounds candidates). The clusters/losers
    * frames hold only near-dup members, but on a real LLM training
    * corpus the duplicate fraction is routinely 30–80% of documents —
    * losers is O(corpus) in ids, so neither join is broadcast-hinted:
    * the optimizer (AQE at runtime, statistics otherwise) broadcasts
    * when the loser set is genuinely small and uses a shuffled anti
    * join when it is not. DedupScaleSpec pins both behaviors on a
    * majority-duplicate corpus with the broadcast threshold forced off.
    *
    * `method = "auto"` counts the corpus once and picks exact below
    * [[AutoDedupCrossover]] docs, minhash-lsh at or above it — the
    * measured sf1 crossover (CROSSOVER_r07.json, BASELINE.md): exact's
    * word-level self-join grows quadratically on shared-vocab corpora
    * (6.6 s at n=1,000 → 147 s at n=5,000) while the banded path stays
    * ~3 s flat. NOTE this is a COST switch, not a semantics-free one:
    * banding recall at tau is < 1 (per-band collision ≈ tau^rows), so
    * missed edges can SPLIT clusters and the LSH branch keeps a
    * superset of exact's survivors (the q72 spec bound, pinned on the
    * fixture in TextPipelineSpec) — callers who need the exact
    * transitive relation at any size must say `method = "exact"`. */
  def dedupCorpus(docs: DataFrame, tau: Double = 0.8,
                  method: String = "exact",
                  electBy: String = "quality",
                  maxBucket: Int = LshMaxBucket): DataFrame = {
    if (method == "auto") {
      val n = docs.select("doc_id").count()
      return dedupCorpus(docs, tau, chooseDedupMethod(n), electBy, maxBucket)
    }
    // STAGE 0 — exact collapse (new in round 7): byte-identical texts
    // (J = 1, the dominant duplicate class at crawl scale and exactly
    // the degenerate input that floods LSH buckets) fold onto their
    // min-id member BEFORE any signature work — one hash exchange on a
    // 256-bit text digest. Guarantees: an exact-duplicate family always
    // collapses no matter what the approximate path does downstream
    // (the hot-bucket guard may truncate pair enumeration inside a
    // flooded bucket, but an identical-doc flood now reaches the bucket
    // join as ONE row), and the LSH/banding input shrinks by the exact-
    // dup fraction. Survivors are unchanged: identical docs have
    // identical word sets, so contracting a family onto its min-id rep
    // preserves components (every member's edges duplicate the rep's),
    // the component minimum (a family's min IS its rep), and quality
    // election (identical text ⇒ identical rounded score ⇒ the family's
    // min doc_id already outranks its other members).
    val famed = docs
      .select(col("doc_id"), col("text"),
        sha2(coalesce(col("text"), lit("")).cast("binary"), 256).as("th"))
      .withColumn("fam_rep", min("doc_id").over(Window.partitionBy("th")))
    // reps feeds two branches (tokens/score and the survivor anti join);
    // checkpoint it once so the scan + digest window run ONCE, not per
    // branch (the operator is already action-driven — the components
    // loop below runs jobs — so eager materialization costs nothing
    // extra, and at scale it halves the corpus scans)
    val reps = famed.where(col("doc_id") === col("fam_rep"))
      .select("doc_id", "text")
      .localCheckpoint()
    val sets = Text.tokens(reps).select("doc_id", "word").distinct()
    val pairs = (method match {
      case "exact" => exactJaccardPairs(sets, tau)
      case "minhash-lsh" => minHashLshPairs(sets, tau, maxBucket)
      case other => throw new IllegalArgumentException(
        s"unknown dedup method '$other' (expected exact | minhash-lsh)")
    }).select("a", "b")
    val clusters = connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("rep"))
    val compLosers = electBy match {
      case "first" =>
        // arrival-order election: the earliest (min doc_id) member of
        // each component survives — the semantics an incremental ingest
        // stream can honor without revoking already-emitted verdicts
        // (streaming.DocDedup's verdict stage goldens against this mode)
        clusters.where(col("doc_id") =!= col("rep")).select("doc_id")
      case "quality" =>
        val stop = col("word").isin("the", "a")
        // score rounded to 4 decimals BEFORE ranking (q58 protocol): the
        // survivor election must be reproducible across engines/libm — a
        // 1-ULP ln() difference must not flip which duplicate we keep.
        val score = Text.tokens(reps).groupBy("doc_id").agg(
          round(log(lit(1) + count(lit(1))) *
            (lit(1) - sum(when(stop, 1).otherwise(0)).cast("double") / count(lit(1))), 4)
            .as("score"))
        val w = Window.partitionBy("rep").orderBy(col("score").desc, col("doc_id"))
        score.join(clusters, "doc_id")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") > 1)
          .select("doc_id")
      case other => throw new IllegalArgumentException(
        s"unknown electBy '$other' (expected quality | first)")
    }
    // survivors = family reps minus component losers; one semi join
    // recovers the original rows (family losers were never reps, so they
    // fall out without a separate anti branch — keeps the famed subtree
    // single-consumer and the shuffle budget flat)
    val survivors = reps.select("doc_id")
      .join(compLosers, Seq("doc_id"), "left_anti")
    docs.join(survivors, Seq("doc_id"), "left_semi")
  }

  /** q71: [[dedupCorpus]] itself as a registry query — the one-call
    * end-to-end dedup API (pairs → connected components → quality
    * election → anti-join) oracle-checked as a WHOLE, not just its
    * pieces (q26 pairs, q48 components, q58 election). The DuckDB twin
    * replays the full pipeline with a recursive CTE for components and
    * NOT IN for the anti-join; survivors are compared by id. Bounded to
    * doc_id < 100 like the other exact-Jaccard oracles. */
  val q71_dedup_corpus = QueryDef(
    "q71_dedup_corpus",
    """WITH RECURSIVE docs AS (SELECT * FROM documents WHERE doc_id < 100),
      |tokens AS (
      |  SELECT doc_id, w AS word FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |    FROM docs) WHERE length(w) > 0),
      |t AS (SELECT DISTINCT doc_id, word FROM tokens),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |          FROM t x JOIN t y ON x.word = y.word AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id),
      |pairs AS (SELECT a, b FROM inter
      |          JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION SELECT b, a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      |clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_rep
      |             FROM reach GROUP BY id),
      |score AS (SELECT doc_id,
      |  ROUND(ln(1 + COUNT(*)) *
      |    (1 - CAST(SUM(CASE WHEN word IN ('the','a') THEN 1 ELSE 0 END) AS DOUBLE)
      |         / COUNT(*)), 4) AS score
      |  FROM tokens GROUP BY doc_id),
      |m AS (SELECT c.doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
      |                     ORDER BY s.score DESC, c.doc_id) AS rn
      |  FROM clusters c JOIN score s ON s.doc_id = c.doc_id)
      |SELECT d.doc_id, d.source, d.lang FROM docs d
      |WHERE d.doc_id NOT IN (SELECT doc_id FROM m WHERE rn > 1)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    dedupCorpus(Tables.documents(s, d).where(col("doc_id") < 100), 0.8, "exact")
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")
  }

  /** q72: the same one-call dedup through the MinHash-LSH scale path.
    * Approximate recall (a missed pair can split a cluster and leave an
    * extra survivor) → rows-only driver check; TextPipelineSpec bounds
    * LSH pairs against exact, and LshGuardSpec pins the hot-bucket
    * behavior this path rides on. */
  val q72_dedup_corpus_lsh = QueryDef.unchecked("q72_dedup_corpus_lsh") { (s, d) =>
    dedupCorpus(Tables.documents(s, d).where(col("doc_id") < 100), 0.8, "minhash-lsh")
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")
  }

  /** q68: term vector per host — the last of the six canonical
    * MapReduce workloads (MRPAPER §2.3: "Term-Vector per Host": the
    * most frequent terms per document source). groupBy(source, word)
    * hash-agg with map-side combine, then top-5 per source.
    *
    * r11: the top-5 was a ROW_NUMBER window over the per-source
    * vocabulary — one source's whole vocabulary in ONE task (the q20
    * class: at 100 TB a crawl's biggest domain can carry a 10⁸-word
    * vocabulary). Replaced by the q20 cure: a bounded
    * [[graft.functions.TopKRowsStr]] partial+final hash aggregate ships
    * ≤5 (cnt, word) pairs per source per map partition and never sorts;
    * (cnt DESC, word ASC) is total (words are distinct per source after
    * the count agg), so rows are bit-identical to the window's rn ≤ 5
    * (counts exact as doubles below 2⁵³). */
  val q68_term_vectors = QueryDef(
    "q68_term_vectors",
    """WITH w AS (
      |  SELECT source, w AS word FROM (
      |    SELECT source, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |    FROM documents) WHERE length(w) > 0),
      |c AS (SELECT source, word, COUNT(*) AS cnt FROM w GROUP BY 1, 2),
      |r AS (SELECT source, word, cnt,
      |      ROW_NUMBER() OVER (PARTITION BY source
      |                         ORDER BY cnt DESC, word) AS rn
      |      FROM c)
      |SELECT source, word, cnt, rn FROM r WHERE rn <= 5
      |ORDER BY source, rn""".stripMargin) { (s, d) =>
    val top5 = udaf(new graft.functions.TopKRowsStr(5))
    Text.tokens(Tables.documents(s, d), "source")
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(top5(col("cnt").cast("double"), col("word")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "r")))
      .select(col("source"), col("r._2").as("word"),
        col("r._1").cast("long").as("cnt"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy("source", "rn")
  }

  /** q79: deterministic corpus shuffle + shard assignment — the
    * training-order randomization step of a data pipeline. Every doc
    * gets a content-derived shuffle key (the engine-portable polyHash,
    * so the oracle reproduces it bit-for-bit), its shard is `key mod
    * nShards` (pure HASH partitioning), and `pos` ranks it within its
    * shard — each shard is an independently ordered unit a trainer
    * streams. Deliberately NOT a corpus-wide total order: that would
    * cost a range exchange plus a near-serial sample pass at 100 TB,
    * and training only needs within-shard order + cross-shard
    * pseudo-randomness, which the hash key provides. ONE hash shuffle
    * (the shard window); the output ORDER BY is the registry's
    * determinism contract, not part of the operator. */
  val q79_corpus_shuffle = QueryDef(
    "q79_corpus_shuffle",
    """WITH h AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(CAST(29 AS BIGINT),
      |      list_transform(list_filter(regexp_split_to_array(text, ''), c -> length(c) > 0),
      |                     c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS skey
      |  FROM documents)
      |SELECT doc_id, skey, CAST(skey % 8 AS BIGINT) AS shard,
      |  ROW_NUMBER() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS pos
      |FROM h ORDER BY shard, pos""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), Text.polyHash(col("text"), 29L).as("skey"))
      .withColumn("shard", col("skey") % 8L)
      .withColumn("pos", row_number().over(w).cast("long"))
      .orderBy("shard", "pos")
  }

  /** q80: weighted source mixing — compose a training corpus from
    * heterogeneous sources at chosen proportions (here: keep 50% of
    * `en`, 25% of every other language), deterministically by
    * content-hash rank (q49's engine-portable mechanism — no RNG
    * state, reproducible across engines and runs). ONE language-keyed
    * window carries BOTH the rank and the per-language total, so the
    * whole mix is a single shuffle; at production scale the weights
    * arrive as a broadcast dimension rather than a literal CASE. */
  val q80_weighted_mix = QueryDef(
    "q80_weighted_mix",
    """WITH h AS (
      |  SELECT lang, doc_id,
      |    list_reduce(list_prepend(CAST(17 AS BIGINT),
      |      list_transform(list_filter(regexp_split_to_array(text, ''), c -> length(c) > 0),
      |                     c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS hk
      |  FROM documents),
      |r AS (SELECT lang, doc_id, hk,
      |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn,
      |      COUNT(*) OVER (PARTITION BY lang) AS total
      |      FROM h)
      |SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn FROM r
      |WHERE rn <= CEIL(total * (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.25 END))
      |ORDER BY lang, rn""".stripMargin) { (s, d) =>
    // r11: the per-lang ROW_NUMBER + COUNT windows put one language's
    // whole corpus in ONE task (the q49/q56 class) — routed between the
    // dense window pair and RangeStitch's exact range rank + a lang-
    // keyed total join (AQE broadcasts the node-sized totals; the probe
    // runs on the pruned projection, never paying polyHash).
    val h = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        Text.polyHash(col("text"), 17L).as("hk"))
    val byLang = Window.partitionBy("lang")
    val ranked = routeByLang(s, d)(
      h.withColumn("rn",
          row_number().over(byLang.orderBy("hk", "doc_id")).cast("long"))
        .withColumn("total", count(lit(1)).over(byLang)), {
        val rk = RangeStitch.withRangeRank(h, "lang", Seq("hk", "doc_id"),
          "rn")
        rk.join(rk.groupBy("lang").agg(count(lit(1)).as("total")), Seq("lang"))
      })
    ranked
      .where(col("rn") <= ceil(col("total") *
        when(col("lang") === "en", 0.5).otherwise(0.25)))
      .select("lang", "doc_id", "rn")
      .orderBy("lang", "rn")
  }

  /** q81: PII scrubbing — mask emails and phone numbers before a corpus
    * ships (the redaction pass every training-data release runs). All
    * regexp built-ins, fully codegen, zero shuffles beyond the output
    * sort: the 100 TB cost is one scan.
    *
    * The driver fixtures deliberately contain no PII, so the query first
    * SALTS a raw column deterministically from existing columns (doc_id
    * parity picks which docs get an email / a phone — both the match and
    * the no-match paths are exercised) and then scrubs it; the DuckDB
    * twin synthesizes the identical raw text, so the oracle checks the
    * scrub NON-vacuously: every synthesized email/phone must be masked,
    * every clean doc must pass through byte-identical. Patterns are
    * shared Java-regex/RE2 syntax (char classes + quantifiers only). */
  val q81_pii_scrub = QueryDef(
    "q81_pii_scrub",
    """WITH raw AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 2 = 0
      |      THEN ' Contact user' || doc_id || '@' || source || '.example.com now.'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 3 = 0
      |      THEN ' Call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today.'
      |      ELSE '' END AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(raw, '[a-z0-9._%]+@[a-z0-9.-]+[.][a-z]+')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(raw, '555-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  regexp_replace(
      |    regexp_replace(raw, '[a-z0-9._%]+@[a-z0-9.-]+[.][a-z]+', '<EMAIL>', 'g'),
      |    '555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
      |FROM raw ORDER BY doc_id""".stripMargin) { (s, d) =>
    val emailRe = "[a-z0-9._%]+@[a-z0-9.-]+[.][a-z]+"
    val phoneRe = "555-[0-9]{4}"
    Tables.documents(s, d)
      .select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" Contact user"), col("doc_id"), lit("@"),
            col("source"), lit(".example.com now."))).otherwise(""),
        when(col("doc_id") % 3 === 0,
          concat(lit(" Call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today."))).otherwise("")).as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(col("raw"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("scrubbed"))
      // hash exchange before the sort (q54 pattern): the range sampler
      // must not re-run the 4-regex scrub scan over the corpus
      .repartition(col("doc_id"))
      .orderBy("doc_id")
  }

  /** q82: URL extraction — pull every URL out of each document (link
    * harvesting / crawl-frontier seeding), with host and scheme split
    * out. `regexp_extract_all` → explode keeps it one codegen scan +
    * generator; docs salted as in q81 (doc_id % 5 picks who gets a
    * second URL, so multi-URL and single-URL docs both exist). */
  val q82_url_extract = QueryDef(
    "q82_url_extract",
    """WITH raw AS (
      |  SELECT doc_id,
      |    text || ' See https://' || source || '.example.com/d/' || doc_id ||
      |    CASE WHEN doc_id % 5 = 0
      |      THEN ' and http://mirror.example.org/x/' || doc_id || '?ref=ab'
      |      ELSE '' END || ' ok.' AS raw
      |  FROM documents),
      |u AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(raw, 'https?://[a-z0-9./?=_-]+[a-z0-9/]')) AS url
      |  FROM raw)
      |SELECT doc_id, url,
      |  regexp_extract(url, 'https?://([a-z0-9.-]+)/', 1) AS host,
      |  regexp_extract(url, '^(https?)', 1) AS scheme
      |FROM u ORDER BY doc_id, url""".stripMargin) { (s, d) =>
    val urlRe = "https?://[a-z0-9./?=_-]+[a-z0-9/]"
    Tables.documents(s, d)
      .select(col("doc_id"), concat(
        col("text"), lit(" See https://"), col("source"),
        lit(".example.com/d/"), col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" and http://mirror.example.org/x/"), col("doc_id"),
            lit("?ref=ab"))).otherwise(""),
        lit(" ok.")).as("raw"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("raw"), lit(urlRe), lit(0))).as("url"))
      .select(col("doc_id"), col("url"),
        regexp_extract(col("url"), "https?://([a-z0-9.-]+)/", 1).as("host"),
        regexp_extract(col("url"), "^(https?)", 1).as("scheme"))
      // NO q54-pattern re-key here (r13, measured): the output rows
      // carry the url/host/scheme strings (~corpus-sized), so shipping
      // them once costs what the sampler's regex re-scan costs — A/B
      // flat at sf0.1 AND sf1; keep the exchange-minimal shape
      .orderBy("doc_id", "url")
  }

  /** Shared stage of [[dupSpans]]/[[cutSpans]]: every word position whose
    * k-shingle also occurs in at least `minDocs` distinct documents.
    * One row per (doc_id, pos) — positions are unique per doc (one
    * shingle starts at each position) and the flagged-shingle side is
    * distinct, so the join cannot duplicate. */
  private def dupHits(docs: DataFrame, k: Int, minDocs: Int): DataFrame = {
    val g = docs
      .select(col("doc_id"), posexplode(
        graft.expressions.VectorExpressions.wordNgrams(col("text"), k)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("shingle"))
    val flagged = g.groupBy("shingle")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select("shingle")
    g.join(flagged, "shingle").select("doc_id", "pos")
  }

  /** Duplicated-span detection — exact SUBSTRING-level dedup (the
    * "exact substring deduplication" of Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", re-expressed
    * relationally): find every maximal run of word positions whose
    * k-word shingles also appear in at least `minDocs`-1 OTHER documents.
    * Document-level MinHash (q71) misses a boilerplate paragraph pasted
    * into otherwise-unique docs; this operator flags exactly those spans
    * so a pipeline can cut them instead of dropping whole documents.
    *
    * Plan shape (and why it scales):
    *  1. one-scan shingling — the native [[org.apache.spark.sql.graftvec.
    *     WordNgrams]] codegen kernel + posexplode, no word arrays kept;
    *  2. duplicated-shingle set via COUNT(DISTINCT doc_id) — two-phase
    *     hash agg, so a boilerplate shingle in a million docs is folded
    *     map-side per partition before it ever crosses the wire;
    *  3. positions join back on the shingle string — NO broadcast hint
    *     (the duplicated-shingle set is O(corpus) in the worst case; the
    *     optimizer/AQE picks broadcast vs shuffled vs skew-split — the
    *     round-7 dedup lesson applied from birth);
    *  4. per-doc gaps-and-islands window (positions whose spans overlap
    *     or touch — gap ≤ k — merge into one island), then a groupBy
    *     (doc_id, island) that RIDES the window's doc_id exchange.
    * 5 shuffles total, pinned in ShuffleAuditSpec.
    *
    * Output: (doc_id, span_start, span_end, n_shingles) per maximal
    * duplicated span, word-position indexed (0-based, end inclusive of
    * the last shingle's final word). */
  def dupSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame = {
    val hits = dupHits(docs, k, minDocs)
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) > k, 1).otherwise(0))
      .withColumn("island", sum("brk").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (k - 1)).as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select("doc_id", "span_start", "span_end", "n_shingles")
      .orderBy("doc_id", "span_start")
  }

  /** q83: duplicated 8-gram spans over the documents table — see
    * [[dupSpans]]. The DuckDB twin re-derives the same shingles with
    * 1-based inclusive list slicing (`words[i:i+7]`), so position
    * semantics are pinned cross-engine: Spark's 0-based posexplode
    * index equals DuckDB's `i - 1`. */
  val q83_dup_spans = QueryDef(
    "q83_dup_spans",
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS words
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |    array_to_string(words[i:i+7], ' ') AS shingle
      |  FROM w, UNNEST(range(1, len(words) - 6)) AS t(i)),
      |f AS (
      |  SELECT shingle FROM g GROUP BY shingle
      |  HAVING COUNT(DISTINCT doc_id) >= 2),
      |h AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (shingle)),
      |b AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
      |         THEN 1 ELSE 0 END AS brk
      |  FROM h),
      |s AS (
      |  SELECT doc_id, pos,
      |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS island
      |  FROM b)
      |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles
      |FROM s GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
    dupSpans(Tables.documents(s, d), k = 8, minDocs = 2)
  }

  /** Span CUTTING — [[dupSpans]] applied: rewrite each document with
    * every word covered by a cross-document duplicated k-shingle removed.
    * Removes EVERY occurrence (the public exact-substring dedup tooling's
    * behavior — deliberately conservative; keep-first would need a global
    * occurrence order, which is a policy choice layered on top, not part
    * of this operator's contract). Documents with no duplicated spans
    * pass through byte-identical in normalized word space.
    *
    * Plan shape: [[dupHits]] (duplicated positions) → explode each hit to
    * its k covered positions → collect_set per doc (partial agg dedups
    * overlapping shingles map-side, and the per-doc set is bounded by doc
    * length — never corpus-sized) → left join docs on doc_id → scan-local
    * indexed-lambda filter keeps words at uncovered positions. The
    * covered-set side arrives hash(doc_id)-partitioned from its agg, so
    * only the docs side shuffles for the join. 6 shuffles, pinned.
    *
    * Output: (doc_id, n_words, n_cut, cleaned) — cleaned is the
    * space-joined surviving words (empty string when everything was
    * boilerplate), n_cut = words removed. */
  def cutSpans(docs: DataFrame, k: Int = 8, minDocs: Int = 2): DataFrame = {
    val covered = dupHits(docs, k, minDocs)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cp"))
      .groupBy("doc_id").agg(collect_set("cp").as("covered"))
    docs
      .select(col("doc_id"), Text.wordsOf(col("text")).as("words"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("covered",
        coalesce(col("covered"), array().cast("array<bigint>")))
      .withColumn("kept", filter(col("words"),
        (w, i) => !array_contains(col("covered"), i.cast("long"))))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        (size(col("words")) - size(col("kept"))).cast("long").as("n_cut"),
        concat_ws(" ", col("kept")).as("cleaned"))
      .orderBy("doc_id")
  }

  /** q84: q83's spans cut out of the corpus — see [[cutSpans]]. The
    * DuckDB twin enumerates covered positions (hit → range(pos, pos+8)),
    * anti-joins the per-position word stream, and reassembles with an
    * ordered string_agg; empty survivors coalesce to '' to match Spark's
    * concat_ws on an empty array. */
  val q84_span_cut = QueryDef(
    "q84_span_cut",
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS words
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |    array_to_string(words[i:i+7], ' ') AS shingle
      |  FROM w, UNNEST(range(1, len(words) - 6)) AS t(i)),
      |f AS (
      |  SELECT shingle FROM g GROUP BY shingle
      |  HAVING COUNT(DISTINCT doc_id) >= 2),
      |h AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (shingle)),
      |c AS (
      |  SELECT DISTINCT doc_id, pos + d AS cp
      |  FROM h, UNNEST(range(0, 8)) AS r(d)),
      |p AS (
      |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, words[i] AS word
      |  FROM w, UNNEST(range(1, len(words) + 1)) AS t(i)),
      |kept AS (
      |  SELECT p.doc_id, p.pos, p.word FROM p
      |  WHERE NOT EXISTS (SELECT 1 FROM c
      |                    WHERE c.doc_id = p.doc_id AND c.cp = p.pos)),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    string_agg(word, ' ' ORDER BY pos) AS cleaned
      |  FROM kept GROUP BY doc_id)
      |SELECT w.doc_id, CAST(len(w.words) AS BIGINT) AS n_words,
      |  CAST(len(w.words) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_cut,
      |  COALESCE(agg.cleaned, '') AS cleaned
      |FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
      |ORDER BY w.doc_id""".stripMargin) { (s, d) =>
    cutSpans(Tables.documents(s, d), k = 8, minDocs = 2)
  }

  /** q93: bloom-prefiltered decontamination — SAME answer as [[q59_decontam]]
    * (the oracle text is identical), different 100 TB plan. q59 broadcasts
    * the bench shingle set as a join hash table; here the bench set is
    * first folded into a ~bits-sized Bloom filter (`DataFrameStatFunctions
    * .bloomFilter`, a distributed `TypedImperativeAggregate` — only the
    * final bitset reaches the driver), the corpus-side shingle stream is
    * prefiltered by `mightContain` INSIDE the scan stage, and only the
    * surviving candidates — no false negatives, by the Bloom contract —
    * enter the verification join, whose strategy AQE picks by size. When
    * the eval suite outgrows a broadcastable hash table (the realistic
    * 100 TB regime: many benchmarks × many n-grams), the filter still fits
    * in a few MB and the shuffled verify join moves candidates only, not
    * the corpus. False positives are killed by the verify join, so the
    * output is exact — hash-checked against q59's oracle. */
  val q93_decontam_bloom = QueryDef(
    "q93_decontam_bloom",
    """WITH w AS (
      |  SELECT doc_id, source,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS words
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, unnest(list_transform(range(1, len(words) - 1),
      |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
      |  FROM w WHERE len(words) >= 3),
      |bench AS (SELECT DISTINCT sh FROM g WHERE source = 'src0'),
      |train AS (SELECT DISTINCT doc_id, sh FROM g WHERE source <> 'src0'),
      |m AS (SELECT t.doc_id, CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END AS hit
      |      FROM train t LEFT JOIN bench b ON t.sh = b.sh)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(hit) AS BIGINT) AS n_hit,
      |  ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS contam_frac,
      |  CAST(CASE WHEN CAST(SUM(hit) AS DOUBLE) / COUNT(*) >= 0.5
      |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val sh = triShingles(s, d)
    decontamBloom(sh.where(col("source") =!= "src0"),
      sh.where(col("source") === "src0"))
  }

  /** Bloom-prefilter decontamination core behind [[q93_decontam_bloom]]:
    * same relations as [[decontamBroadcast]], same output — different
    * 100 TB plan (bits-sized filter broadcast, scan-stage prefilter,
    * candidates-only un-hinted verify join). `expectedItems`/`fpp` size
    * the filter; the registry query keeps the fixture-tuned default. */
  def decontamBloom(train: DataFrame, bench: DataFrame,
                    expectedItems: Long = 1L << 17,
                    fpp: Double = 0.03): DataFrame = {
    val s = train.sparkSession
    val b = bench.select("sh").distinct()
    val bf = b.stat.bloomFilter("sh", expectedItems, fpp)
    val bfB = s.sparkContext.broadcast(bf)
    val might = udf((x: String) => bfB.value.mightContainString(x))
    val trainRaw = train.select("doc_id", "sh")
    val counts = trainRaw.distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    // prefilter BELOW the distinct: the candidate branch's dedup exchange
    // moves only bloom survivors, not the whole corpus shingle stream
    val hits = trainRaw.where(might(col("sh"))).distinct()
      .join(b, Seq("sh")) // verify: kills bloom false positives
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    contamOut(counts.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit")))
  }

  /** q94: token-budget sequence packing — lay the corpus's token stream
    * out in doc_id order and cut it into fixed 256-token packs (the
    * pretraining batch-assembly step), reporting each doc's start offset,
    * first pack, and pack span. The global running sum is NOT a global
    * single-partition window (the naive plan, a 100 TB deathtrap): it is
    * the classic two-level distributed prefix sum — docs fall into
    * contiguous 1024-id shards, a per-shard window computes local
    * prefixes in parallel, the per-shard TOTALS (one row per shard) get
    * the only serial scan, and the shard base offsets join back keyed by
    * shard (tiny side — AQE broadcasts). Equivalent to the oracle's flat
    * `SUM OVER (ORDER BY doc_id)` by associativity of +. */
  val q94_token_pack = QueryDef(
    "q94_token_pack",
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                         x -> length(x) > 0)) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_tok
      |  FROM t)
      |SELECT doc_id, n_tok, start_tok,
      |  CAST(start_tok // 256 AS BIGINT) AS pack_id,
      |  CAST(CASE WHEN n_tok = 0 THEN 0
      |       ELSE (start_tok + n_tok - 1) // 256 - start_tok // 256 + 1
      |  END AS BIGINT) AS n_packs
      |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), size(wordsCol).cast("long").as("n_tok"))
      .withColumn("shard", expr("doc_id DIV 1024"))
    val wLocal = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // one row per shard; the serial prefix scan runs over THIS, not the data
    val wShard = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = t.groupBy("shard").agg(sum("n_tok").as("tot"))
      .withColumn("base", coalesce(sum("tot").over(wShard), lit(0L)))
      .select("shard", "base")
    t.withColumn("local", coalesce(sum("n_tok").over(wLocal), lit(0L)))
      .join(offs, Seq("shard"))
      .withColumn("start_tok", col("local") + col("base"))
      .withColumn("pack_id", expr("start_tok DIV 256"))
      .withColumn("n_packs", when(col("n_tok") === 0, 0L)
        .otherwise(expr("(start_tok + n_tok - 1) DIV 256") - col("pack_id") + 1))
      .select("doc_id", "n_tok", "start_tok", "pack_id", "n_packs")
      .orderBy("doc_id")
  }

  /** q97: Count-Min-sketch heavy hitters — estimate the counts of the
    * exact top-10 words from a CMS built over the full token stream
    * (`DataFrameStatFunctions.countMinSketch`, a distributed merge of
    * per-partition sketches; only the depth×width counter table reaches
    * the driver). The sketch answers point queries for ANY word in a
    * corpus whose exact per-word table would itself be shuffle-heavy —
    * the 100 TB use is "counts for a watchlist of terms without a
    * global groupBy". Engine-specific (no DuckDB CMS) → rows-only
    * check; the CMS one-sided error contract (est ≥ exact, and
    * est ≤ exact + ε·N with probability 1−δ) is spec-pinned with this
    * fixed seed in UpsertFillFuzzSpec. */
  val q97_cms_heavy_hitters = QueryDef.unchecked("q97_cms_heavy_hitters") {
    (s, d) =>
      val toks = tokens(s, d).select("word")
      val cms = toks.stat.countMinSketch("word", 0.001, 0.99, 42)
      val cmsB = s.sparkContext.broadcast(cms)
      val est = udf((w: String) => cmsB.value.estimateCount(w))
      toks.groupBy("word").agg(count(lit(1)).as("exact_c"))
        .orderBy(col("exact_c").desc, col("word")).limit(10)
        .withColumn("est_c", est(col("word")))
        .select("word", "exact_c", "est_c")
        .orderBy(col("exact_c").desc, col("word"))
  }

  /** q99: order-independent table checksum — per-source row count plus
    * two commutative folds (wrapping SUM and BIT_XOR) of a per-row
    * content hash. The anti-entropy primitive: two replicas of a 100 TB
    * corpus compare per-shard checksum rows (bytes moved: one row per
    * shard) instead of data; a divergent shard re-syncs. Commutativity
    * is the point — the fold is partition-order- and merge-order-free,
    * so the map-side partial aggregation is exact on any partitioning.
    * The row hash is the engine-portable polynomial hash (same formula
    * both engines, q79's), summed into BIGINT with explicit wrap-around
    * semantics avoided by the mod-p hash range (500k rows × p < 2⁶³). */
  val q99_table_checksum = QueryDef(
    "q99_table_checksum",
    """WITH h AS (
      |  SELECT source,
      |    list_reduce(list_prepend(CAST(41 AS BIGINT),
      |      list_transform(list_filter(regexp_split_to_array(text, ''), c -> length(c) > 0),
      |                     c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS rh
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(rh) AS BIGINT) AS sum_ck,
      |  CAST(BIT_XOR(rh) AS BIGINT) AS xor_ck
      |FROM h GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), Text.polyHash(col("text"), 41L).as("rh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("rh").as("sum_ck"),
        expr("bit_xor(rh)").as("xor_ck"))
      .orderBy("source")
  }

  /** q100: EXACT set-similarity self-join via prefix filtering (the
    * PPJoin family) — every doc pair whose word-TRIGRAM sets have
    * Jaccard ≥ 0.6, with no approximation and no all-pairs stage. The
    * naive exact plan joins docs on ANY shared token, which explodes on
    * common tokens (every pair sharing a stock phrase becomes a
    * candidate); LSH (q37) fixes that by sampling, losing exactness.
    * Prefix filtering keeps exactness: order each doc's tokens
    * rarest-first by GLOBAL frequency and keep only the first
    * |d| − ⌈t·|d|⌉ + 1 — two sets with J ≥ t must share a token inside
    * these prefixes (pigeonhole under a common total order) AND satisfy
    * t·|A| ≤ |B| ≤ |A|/t (the length filter, also applied in the
    * candidate join), so candidates come from the rarest slivers only
    * and the verify join touches candidates only. Token choice is part
    * of the scale design: this fixture's 31-word vocabulary makes word
    * BIGRAMS so common that prefix buckets stay hot (measured 7.0M
    * candidates at sf0.1); trigrams grow the token universe
    * exponentially (same 256 true pairs from 0.3M candidates, hottest
    * prefix bucket 10 docs). The frequency order is attached as a SORT
    * KEY ((count, token) per row) — deliberately NOT a dense global
    * rank, which would need a vocabulary-wide single-partition window;
    * per-doc positions come from doc-keyed windows. Verified
    * intersection count and one-division Jaccard are engine-exact
    * (round 4). */
  val q100_setsim_join = QueryDef(
    "q100_setsim_join",
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS words
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(words) - 1),
      |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
      |  FROM w WHERE len(words) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM g x JOIN g y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, inter,
      |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS j
      |FROM inter JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    // r13 (guide §2.4): the per-doc trigram set is SCAN-LOCAL — same
    // dedup+sort the old explode → collect_set agg produced (UTF8
    // binary order both ways), zero exchange instead of re-shuffling
    // the full token-string stream to reassemble doc-local rows
    setSimJoinSets(Tables.documents(s, d)
      .select(col("doc_id"), sort_array(array_distinct(
        graft.expressions.VectorExpressions.wordNgrams(col("text"), 3)))
        .as("arr"))
      .where(size(col("arr")) > 0), 0.6)
      .orderBy("a", "b")
  }

  /** Prefix-filtered EXACT set-similarity self-join core behind
    * [[q100_setsim_join]]. `sets` is a distinct (doc_id, sh) relation;
    * returns every pair (a < b) with Jaccard(setₐ, set_b) ≥ `t` as
    * (a, b, inter, j). Lossless: prefixes under a common rarest-first
    * total order must overlap for any pair at or above the threshold.
    *
    * Candidate-stage bounds use FLOOR, not the tight ceil: `t * n` in
    * doubles can land a hair ABOVE an exact integer product (0.8·5 →
    * 4.000…0002, so `ceil` returns 5 where the true bound is 4), which
    * would shorten the prefix / tighten the length filter and silently
    * drop exact-boundary pairs (|A|=5, |B|=4, B⊂A at t=0.8 — pinned in
    * UpsertFillFuzzSpec). `floor(t·n)` can never exceed the true
    * ⌈t·n⌉, so the bounds stay conservative (at most one extra prefix
    * token / a few extra candidates) and the verify stage — the same
    * double compare the oracle runs — decides final membership. */
  def setSimJoin(sets: DataFrame, t: Double): DataFrame =
    // r11 restructure (VERDICT r10 #6): ONE doc-keyed exchange folds the
    // token stream into each doc's distinct sorted set (collect_set
    // dedups in-aggregate; n = size(arr); no separate size table).
    // Generic-relation entry — q100 feeds the doc-set table directly
    // (setSimJoinSets) and skips this exchange outright.
    setSimJoinSets(sets.groupBy("doc_id")
      .agg(sort_array(collect_set(col("sh"))).as("arr")), t)

  /** [[setSimJoin]] over a pre-built doc-set table. CONTRACT: `docsets0`
    * is (doc_id, arr) with arr the doc's DISTINCT tokens sorted
    * ascending (UTF8 binary order — `sort_array` over distinct
    * strings), one row per doc, no empty arrays. q100 builds it
    * SCAN-LOCALLY (r13, guide §2.4): a doc's trigram set derives only
    * from that doc's text, so `sort_array(array_distinct(word_ngrams))`
    * inside the scan replaces the explode → groupBy(doc_id) round trip
    * that re-shuffled the full corpus-sized token-string stream just to
    * reassemble rows that were doc-local to begin with. */
  private[graft] def setSimJoinSets(docsets0: DataFrame, t: Double): DataFrame = {
    def oFloor(n: Column): Column = floor(lit(t) * n)
    // localCheckpointed (the q48/q127/q132 precedent) because TWO
    // branches consume the token stream (the dict agg and the id
    // re-encode join). Without the cut, Catalyst clones the whole
    // lineage per differently-pruned branch (measured r11: the
    // un-checkpointed fusion attempt planned SEVEN exchanges).
    // Cut policy (durability on clusters): Checkpoints.cut — see its
    // scaladoc for the localCheckpoint fail-fast contract + the
    // reliable-checkpoint knob.
    val docsets = Checkpoints.cut(docsets0
      .select(col("doc_id"), col("arr"), size(col("arr")).cast("long").as("n")))
    val big = docsets.select(col("doc_id"), col("n"), explode(col("arr")).as("sh"))
    // r13 (guide §2.3 "shuffle keys, not payloads"; VERDICT r12 #1):
    // dictionary-encode the tokens ONCE — everything downstream of this
    // join (prefix window, candidate join, verify arrays) moves 8-byte
    // longs instead of UTF8 shingle strings. Losslessness: tid is
    // UNIQUE per token and STRICTLY INCREASING in the (f, sh) order
    // (tokenDict's contract), i.e. token → tid is an order isomorphism
    // from the exact rarest-first total order the r11/r12 plan used.
    // So per doc the window's orderBy(tid) ranks tokens identically,
    // prefixes are the images of the old prefixes, the candidate set is
    // identical, and |A∩B| / set sizes are preserved under the
    // bijection — the emitted (a, b, inter, j) rows are bit-identical.
    val docsetsL = Checkpoints.cut(big.join(tokenDict(big), Seq("sh"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("tid"))).as("arr"))
      .select(col("doc_id"), col("arr"), size(col("arr")).cast("long").as("n")))
    val bigL = docsetsL.select(col("doc_id"), col("n"),
      explode(col("arr")).as("tid"))
    // prefix window re-uses the checkpoint's hash(doc_id) partitioning —
    // no exchange; sort key is ONE long now, not (long, string)
    val wPos = Window.partitionBy("doc_id").orderBy("tid")
    val prefix = bigL
      .withColumn("pos", row_number().over(wPos))
      .where(col("pos") <= col("n") - oFloor(col("n")) + 1)
      .select("doc_id", "tid", "n")
    val cand = prefix.select(col("doc_id").as("a"), col("tid"), col("n").as("xn"))
      .join(prefix.select(col("doc_id").as("b"), col("tid"), col("n").as("yn")),
        Seq("tid"))
      .where(col("a") < col("b") &&
        // length filter: J >= t forces t|A| <= |B| <= |A|/t
        col("yn") >= oFloor(col("xn")) && col("xn") >= oFloor(col("yn")))
      .select("a", "b").distinct()
    cand
      .join(docsetsL.select(col("doc_id").as("a"), col("arr").as("arr_a"),
        col("n").as("na")), Seq("a"))
      .join(docsetsL.select(col("doc_id").as("b"), col("arr").as("arr_b"),
        col("n").as("nb")), Seq("b"))
      // r12 (guide §4): the doc sets are sort_array'd and duplicate-
      // free, so |A∩B| is a native two-pointer merge — array_intersect
      // built a per-PAIR hash set and materialized the intersection
      // that size() immediately reduced. Same count. r13: the merge
      // compares longs, not UTF8String bytes.
      .withColumn("inter",
        graft.expressions.VectorExpressions.sortedIntersectCountLong(
          col("arr_a"), col("arr_b")))
      .withColumn("j_raw",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("j_raw") >= t)
      .select(col("a"), col("b"), col("inter"), round(col("j_raw"), 4).as("j"))
  }

  /** (sh, tid) token dictionary for the prefix-filter joins: tid is
    * unique and STRICTLY INCREASING in the global rarest-first
    * (frequency, token) order — the same total order the r11/r12 plans
    * sorted by directly, so ordering by tid is equivalent and every
    * downstream exchange ships one long per token instead of the
    * string (VERDICT r12 #1; guide §2.3).
    *
    * Construction is [[RangeStitch]]'s scalable global-position recipe,
    * NOT a vocabulary-wide single-partition window: range-repartition
    * the freq table on the full (f, sh) total key, sort within
    * partitions, and encode tid = pid ≪ 33 | in-partition row position.
    * Range partition p holds keys ≤ partition p+1's, so tid order ==
    * (f, sh) order; (f, sh) is duplicate-free (one row per token), so
    * tids are unique. Density is NOT needed — only order-isomorphism
    * and uniqueness are (and NOT a hash: the r12 hash-substitution
    * attempt was rejected exactly because collided (f, hash) ties break
    * the common total order the pigeonhole prefix argument needs).
    * Determinism under task retry: the in-partition sort is over a
    * total key, so a re-run task regenerates identical positions
    * (RangeStitch's contract); the sampler's partition BOUNDARIES may
    * vary across runs, but every consumer uses tid only within one
    * query execution and the final output is tid-free. Ceiling: one
    * range partition over 2^33 tokens wraps seq — at that point the
    * partition is already a failed exchange (RangeStitch's argument). */
  private[graft] def tokenDict(big: DataFrame): DataFrame =
    // no explicit partition count (guide §2.2 / the scale-adaptive
    // rule): an un-pinned range repartition lets AQE coalesce the
    // vocab exchange to its real size (a pinned numShufflePartitions
    // put a fixed 32-task floor under every dict build — measured 14 s
    // of pure per-task overhead at sf0.1) while a 100 TB vocabulary
    // still fans out to as many range partitions as its bytes need.
    // Coalescing merges ADJACENT range partitions, so pid order — and
    // with it tid's (f, sh) order-isomorphism — is preserved.
    big.groupBy("sh").agg(count(lit(1)).as("f"))
      .repartitionByRange(col("f"), col("sh"))
      .sortWithinPartitions("f", "sh")
      .select(col("sh"),
        shiftleft(spark_partition_id().cast("long"), 33)
          .bitwiseOR(monotonically_increasing_id()
            .bitwiseAND(lit((1L << 33) - 1)))
          .as("tid"))

  /** q114: EXACT containment join — the ASYMMETRIC twin of q100:
    * every ordered doc pair (a, b) with C(a→b) = |Aₐ∩A_b| / |Aₐ| ≥ 0.8
    * over word-trigram sets. Jaccard misses subsumption (a short quote
    * fully inside a long doc scores low J but C ≈ 1), and quote/
    * boilerplate inclusion is exactly what corpus-dedup audits chase.
    * The prefix filter adapts losslessly: C(a→b) ≥ t forces an
    * intersection of o = ⌈t·|Aₐ|⌉ tokens, so under the global
    * rarest-first order a and b must share a token among a's first
    * |Aₐ| − o + 1 — only the PROBE side prunes (the containing side may
    * hold the match anywhere — the honest asymmetric cost), plus the
    * one-sided length filter |A_b| ≥ o. Verification touches candidates
    * only, via the token-keyed join that materializes intersection rows
    * and never the |A|×|B| cross. */
  val q114_contain_join = QueryDef(
    "q114_contain_join",
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS words
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, len(words) - 1),
      |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
      |  FROM w WHERE len(words) >= 3),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM g x JOIN g y ON x.sh = y.sh AND x.doc_id <> y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, inter,
      |  ROUND(CAST(inter AS DOUBLE) / sa.n, 4) AS c
      |FROM inter JOIN sz sa ON a = sa.doc_id
      |WHERE CAST(inter AS DOUBLE) / sa.n >= 0.8
      |ORDER BY a, b""".stripMargin) { (s, d) =>
    // r13: scan-local per-doc trigram sets — see q100
    containJoinSets(Tables.documents(s, d)
      .select(col("doc_id"), sort_array(array_distinct(
        graft.expressions.VectorExpressions.wordNgrams(col("text"), 3)))
        .as("arr"))
      .where(size(col("arr")) > 0), 4, 5)
      .orderBy("a", "b")
  }

  /** Prefix-filtered EXACT containment self-join core behind
    * [[q114_contain_join]]: ordered pairs (a, b), a ≠ b, with
    * |Aₐ∩A_b| / |Aₐ| ≥ `tNum`/`tDen`, as (a, b, inter, c). Lossless by
    * the same pigeonhole as [[setSimJoin]], applied one-sided. The
    * threshold is a RATIONAL on purpose: the required overlap
    * o = ⌈t·n⌉ must be exact, and `ceil(0.8 * n)` in doubles rounds UP
    * past true integer products (0.8·10 → 8.000…0004 → ⌈⌉ = 9), which
    * would silently shorten the prefix and break losslessness —
    * ⌊(tNum·n + tDen − 1) / tDen⌋ is exact (integer quotients are
    * representable, so the double division is correctly rounded). */
  def containJoin(sets: DataFrame, tNum: Int, tDen: Int): DataFrame =
    // generic-relation entry — see setSimJoin; q114 feeds the doc-set
    // table directly (containJoinSets) and skips this exchange
    containJoinSets(sets.groupBy("doc_id")
      .agg(sort_array(collect_set(col("sh"))).as("arr")), tNum, tDen)

  /** [[containJoin]] over a pre-built doc-set table —
    * [[setSimJoinSets]]' contract, one-sided thresholds. */
  private[graft] def containJoinSets(docsets0: DataFrame, tNum: Int,
                                     tDen: Int): DataFrame = {
    val t = tNum.toDouble / tDen
    def o(n: Column): Column =
      floor((n * lit(tNum) + lit(tDen - 1)) / lit(tDen)).cast("long")
    // r11: the q100 checkpointed doc-set restructure, one-sided (see
    // setSimJoinSets — same rationale: one doc→set table is
    // authoritative; n = size(arr), and the verify is a scan-local
    // sorted two-pointer count — the token-expansion join, its (a, b)
    // count agg, and the separate size-table joins all disappear).
    // r13: tokens are dictionary-encoded to longs before the probe
    // window / candidate join / verify arrays — setSimJoin's
    // order-isomorphism argument applies verbatim (tokenDict's
    // scaladoc), one-sided here: the probe prefix under tid order is
    // the image of the (f, sh)-order prefix, the b side never prunes,
    // so candidates and verified (a, b, inter, c) rows are
    // bit-identical.
    val docsets = Checkpoints.cut(docsets0
      .select(col("doc_id"), col("arr"), size(col("arr")).cast("long").as("n")))
    val big = docsets.select(col("doc_id"), col("n"), explode(col("arr")).as("sh"))
    val docsetsL = Checkpoints.cut(big.join(tokenDict(big), Seq("sh"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("tid"))).as("arr"))
      .select(col("doc_id"), col("arr"), size(col("arr")).cast("long").as("n")))
    val bigL = docsetsL.select(col("doc_id"), col("n"),
      explode(col("arr")).as("tid"))
    val wPos = Window.partitionBy("doc_id").orderBy("tid")
    // required overlap o = ceil(t·n); probe prefix = first n − o + 1
    // (only the PROBE side prunes — the asymmetric contract)
    val prefix = bigL
      .withColumn("pos", row_number().over(wPos))
      .where(col("pos") <= col("n") - o(col("n")) + 1)
      .select(col("doc_id").as("a"), col("tid"), col("n").as("na"))
    val cand = prefix
      .join(bigL.select(col("doc_id").as("b"), col("n").as("nb"), col("tid")),
        Seq("tid"))
      .where(col("a") =!= col("b") && col("nb") >= o(col("na")))
      .select("a", "b").distinct()
    cand
      .join(docsetsL.select(col("doc_id").as("a"), col("arr").as("arr_a"),
        col("n").as("na")), Seq("a"))
      .join(docsetsL.select(col("doc_id").as("b"), col("arr").as("arr_b")),
        Seq("b"))
      // r12: native sorted two-pointer count — see setSimJoin
      .withColumn("inter",
        graft.expressions.VectorExpressions.sortedIntersectCountLong(
          col("arr_a"), col("arr_b")))
      .withColumn("c_raw", col("inter").cast("double") / col("na"))
      .where(col("c_raw") >= t)
      .select(col("a"), col("b"), col("inter"), round(col("c_raw"), 4).as("c"))
  }

  /** q102: token-window chunking with overlap — the context-window prep
    * step of every RAG / LLM-training pipeline: split each document into
    * fixed-size token chunks (20 tokens) on a fixed stride (10 → 50 %
    * overlap), keeping per-chunk provenance (doc_id, chunk_id) and the
    * short-tail length. Scale posture: the whole operator is a scan-local
    * generative flatten — tokenize, `sequence` of starts, `posexplode`,
    * `slice` — all codegen built-ins, ZERO data shuffles (the only
    * exchange is the output ORDER BY); at 100 TB it's a map-only stage
    * whose output partitioning is inherited from the scan. */
  val q102_chunk_overlap = QueryDef(
    "q102_chunk_overlap",
    """WITH w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> length(x) > 0) AS toks
      |  FROM documents),
      |nz AS (SELECT doc_id, toks, len(toks) AS n FROM w WHERE len(toks) > 0),
      |st AS (SELECT doc_id, toks, n, unnest(range(0, n, 10)) AS start FROM nz)
      |SELECT doc_id, CAST(start // 10 AS BIGINT) AS chunk_id,
      |  CAST(least(20, n - start) AS BIGINT) AS n_tok,
      |  array_to_string(list_slice(toks, start + 1, start + 20), ' ') AS chunk
      |FROM st ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
    val W = 20
    val S = 10
    val nz = Tables.documents(s, d)
      .select(col("doc_id"), Text.wordsOf(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .where(col("n") > 0)
    nz.select(col("doc_id"), col("toks"), col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(S)))
          .as(Seq("chunk_id", "start")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        least(lit(W), col("n") - col("start")).cast("long").as("n_tok"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(W))).as("chunk"))
      // hash exchange before the sort (q54 pattern, r13): the range
      // sampler must not re-run the tokenize + chunk-slice scan — the
      // regex split dominates shipping the chunk rows once (measured
      // 4.2 s → the scan stage alone ~2 s at derived sf1)
      .repartition(col("doc_id"))
      .orderBy("doc_id", "chunk_id")
  }

  /** q103: per-source KL divergence vs the corpus unigram distribution —
    * the domain-shift diagnostic of training-data mixing: for each
    * source s, KL(P_s ‖ Q) = Σ_w P_s(w)·ln(P_s(w)/Q(w)) with P_s the
    * source's unigram distribution and Q the whole-corpus one. Every
    * source word appears in the corpus by construction, so no
    * zero-denominator smoothing is needed. Scale posture: the corpus is
    * touched ONCE (the (source, word) count aggregate); everything else
    * rides a LINEAR chain of re-keys on that compacted frame — word
    * totals via a word-keyed window, then the per-source fold using the
    * expansion KL_s = (Σ_w c·(ln c − ln gc))/n + ln(tn/n), so the
    * corpus total tn attaches via a window over the #sources-row result
    * (the only single-partition stage touches tens of rows). No branch
    * re-reads the aggregate, so the plan never depends on exchange
    * reuse — 5 exchanges flat, vs 7 for the naive three-way
    * broadcast-join formulation. */
  val q103_kl_divergence = QueryDef(
    "q103_kl_divergence",
    """WITH stok AS (
      |  SELECT source, w AS word FROM (
      |    SELECT source, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
      |    FROM documents) WHERE length(w) > 0),
      |sc AS (SELECT source, word, COUNT(*) AS c FROM stok GROUP BY source, word),
      |st AS (SELECT source, SUM(c) AS n FROM sc GROUP BY source),
      |g AS (SELECT word, SUM(c) AS gc FROM sc GROUP BY word),
      |t AS (SELECT SUM(c) AS tn FROM sc)
      |SELECT sc.source, CAST(st.n AS BIGINT) AS n_tok,
      |  ROUND(SUM((CAST(sc.c AS DOUBLE) / st.n) *
      |            ln((CAST(sc.c AS DOUBLE) / st.n) /
      |               (CAST(g.gc AS DOUBLE) / t.tn))), 4) AS kl
      |FROM sc JOIN st ON sc.source = st.source
      |        JOIN g ON sc.word = g.word CROSS JOIN t
      |GROUP BY sc.source, st.n ORDER BY sc.source""".stripMargin) { (s, d) =>
    val sc = Text.tokens(Tables.documents(s, d), "source")
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val withGc = sc.withColumn("gc",
      sum("c").over(Window.partitionBy("word")))
    val per = withGc.groupBy("source").agg(
      sum("c").as("n"),
      sum(col("c").cast("double") *
        (log(col("c").cast("double")) - log(col("gc").cast("double")))).as("a"))
    per.withColumn("tn", sum("n").over(Window.partitionBy()))
      .select(col("source"), col("n").cast("long").as("n_tok"),
        round(col("a") / col("n") +
          log(col("tn").cast("double") / col("n")), 4).as("kl"))
      .orderBy("source")
  }

  /** q109: winnowing fingerprints (Schleimer–Wilkerson–Aiken, SIGMOD'03
    * — the MOSS local fingerprinting scheme): normalize to the letters-
    * only stream, hash every k-gram (k=8, the q30 PolyHash fold so the
    * DuckDB twin can replay it), slide a w=4 window over the hash
    * sequence and keep each window's minimum — guaranteeing any shared
    * substring of length ≥ k+w−1 contributes a shared fingerprint,
    * which positional n-gram sampling cannot promise. Output is the
    * per-doc fingerprint-set digest (count / xor / min / max — set
    * equality evidence without shipping the ~0.4·n-row set itself).
    * Scale posture: gram explode + hashing are scan-local; ONE shuffle
    * keyed by doc_id serves the sliding-window min AND (subset-key
    * rule) the distinct and the final digest agg — window w is rows-
    * bounded so state is w hashes regardless of doc length. */
  val q109_winnow = QueryDef(
    "q109_winnow",
    """WITH t AS (SELECT doc_id,
      |    regexp_replace(lower(text), '[^a-z]+', '', 'g') AS s
      |  FROM documents),
      |g0 AS (SELECT doc_id, s, unnest(range(1, length(s) - 6)) AS i
      |       FROM t WHERE length(s) >= 8),
      |g AS (
      |  SELECT doc_id, i,
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(list_filter(
      |        regexp_split_to_array(substr(s, CAST(i AS INT), 8), ''),
      |        c -> length(c) > 0),
      |      c -> CAST(unicode(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |  FROM g0),
      |w AS (
      |  SELECT doc_id, i,
      |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS ng
      |  FROM g),
      |f AS (SELECT DISTINCT doc_id, fp FROM w WHERE i <= ng - 3)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
      |  CAST(BIT_XOR(fp) AS BIGINT) AS fp_xor,
      |  CAST(MIN(fp) AS BIGINT) AS fp_min, CAST(MAX(fp) AS BIGINT) AS fp_max
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    // r12 optimization: the kernel returns each doc's DISTINCT sorted
    // fingerprint set scan-locally, so the per-doc aggregate is array
    // arithmetic over a bounded (≤ #grams) array — the exploded form's
    // three data-sized exchanges (position explode → doc window →
    // DISTINCT → groupBy) disappear; the only exchange left is the
    // output ORDER BY. Values bit-identical (integer hashes, same set).
    winnowArrays(Tables.documents(s, d), k = 8, w = 4)
      .select(col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        aggregate(col("fps"), lit(0L), (acc, x) => acc.bitwiseXOR(x))
          .as("fp_xor"),
        element_at(col("fps"), 1).as("fp_min"),
        element_at(col("fps"), -1).as("fp_max"))
      // hash exchange before the sort (q54 pattern, r13): with the r12
      // exchange-free shape, the range sampler's boundary job re-ran
      // the ENTIRE winnow kernel scan a second time (two ~5 s stages at
      // derived sf1, StageBreakdown) — the narrow per-doc aggregate
      // rows ship once instead
      .repartition(col("doc_id"))
      .orderBy("doc_id")
  }

  /** Winnowing core behind q109: the distinct (doc_id, fp) fingerprint
    * set per document. GUARANTEE (the scheme's theorem, asserted as a
    * property in TextPipelineSpec): two documents whose letters-only
    * streams share any substring of length ≥ k + w − 1 share at least
    * one fingerprint — because the shared region contains a full window
    * of w consecutive k-gram hashes, identical in both documents, and
    * each window contributes its minimum. Docs whose normalized stream
    * is shorter than k produce no fingerprints (nothing to hash). */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame =
    winnowArrays(docs, k, w)
      .select(col("doc_id"), explode(col("fps")).as("fp"))

  /** r12: the scan-local winnowing core — (doc_id, fps) with `fps` the
    * doc's distinct fingerprint set, sorted ascending, computed in one
    * fused pass by [[graft.expressions.VectorExpressions.winnowFps]]
    * (same k-gram polyHash fold + full-window sliding min as the
    * replaced explode/window/distinct chain — see the kernel scaladoc
    * for the bit-identity argument). Docs with no full window (letters
    * stream shorter than k + w − 1) are filtered out, matching the
    * exploded form's empty output for them. */
  private[graft] def winnowArrays(docs: DataFrame, k: Int, w: Int): DataFrame =
    docs
      .select(col("doc_id"),
        graft.expressions.VectorExpressions.winnowFps(
          regexp_replace(lower(col("text")), "[^a-z]+", ""), k, w).as("fps"))
      .where(size(col("fps")) > 0)

  /** q110: BPE pair statistics — the corpus-wide adjacent-symbol-pair
    * frequency table that drives one byte-pair-encoding merge step
    * (Sennrich et al., ACL'16): within every word, count all adjacent
    * character bigrams, rank globally, keep the top 100. The tokenizer-
    * induction workload a training-data engine runs before anything
    * else. Scale posture: word explode and pair explode are scan-local;
    * the pair keyspace is ≤ 26² so map-side partial aggregation
    * collapses each partition to a few hundred rows before the ONE
    * exchange, and the top-100 is TakeOrdered — no global sort. */
  val q110_bpe_pairs = QueryDef(
    "q110_bpe_pairs",
    """WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |            FROM documents),
      |p AS (SELECT substr(word, CAST(unnest(range(1, length(word))) AS INT), 2) AS pair
      |      FROM w0)
      |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
      |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 100""".stripMargin) {
    (s, d) =>
      Tables.documents(s, d)
        .select(explode(Text.wordsOf(col("text"))).as("word"))
        .where(length(col("word")) >= 2)
        .select(col("word"),
          explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
        .select(col("word").substr(col("i"), lit(2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(100)
  }

  /** q113: per-document character-entropy — the gibberish/degenerate-
    * text quality signal (encrypted blobs and base64 runs score near
    * log 26 ≈ 3.258 nats; single-char floods score near 0; natural
    * English sits ≈ 2.8–3.0). Shape: NO explode — the 26 letter counts
    * come from `transform` over a literal alphabet with
    * `length(s) − length(replace(s, ch))`, a codegen scan-local pass
    * (O(26·len) per row), and the entropy fold is an `aggregate` HOF
    * over the filtered count list. ZERO data shuffles beyond the output
    * sort — the per-char explode formulation would shuffle n·len rows.
    * Both engines fold identical doubles in identical (a→z) order. */
  val q113_char_entropy = QueryDef(
    "q113_char_entropy",
    """WITH t AS (SELECT doc_id,
      |    regexp_replace(lower(text), '[^a-z]+', '', 'g') AS s
      |  FROM documents),
      |nz AS (SELECT doc_id, s, CAST(length(s) AS BIGINT) AS n
      |       FROM t WHERE length(s) > 0),
      |cs AS (SELECT doc_id, n,
      |    list_filter(list_transform(range(0, 26),
      |        i -> length(s) - length(replace(s, chr(97 + CAST(i AS INT)), ''))),
      |      x -> x > 0) AS counts
      |  FROM nz)
      |SELECT doc_id, n AS n_char,
      |  ROUND(-list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(counts,
      |        c -> (CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))),
      |    (acc, x) -> acc + x), 4) AS entropy
      |FROM cs ORDER BY doc_id""".stripMargin) { (s, d) =>
    // r12 optimization (guide §4 per-task work): the 26-branch
    // replace()-chain counted each letter with a fresh full-string copy
    // (26 scans + 26 allocations per row) and folded entropy through an
    // interpreted HOF; EntropySum is ONE fused codegen pass with the
    // bit-identical double sequence (same counts, same a→z fold order,
    // same ops — see the kernel scaladoc). round() stays the Spark
    // expression so rounding semantics are untouched.
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "[^a-z]+", "").as("s"))
      .where(length(col("s")) > 0)
      .select(col("doc_id"), length(col("s")).cast("long").as("n_char"),
        round(-graft.expressions.VectorExpressions.entropySum(col("s")), 4)
          .as("entropy"))
      // hash exchange before the sort (q54 pattern, r13): the range
      // sampler must not re-run the regex normalize + entropy kernel
      // scan — the 3-column per-doc rows ship once instead
      .repartition(col("doc_id"))
      .orderBy("doc_id")
  }

  /** q119: collocation extraction by pointwise mutual information —
    * the phrase-mining signal a tokenizer/vocab pipeline computes to
    * decide which adjacent word pairs deserve a merged token (Church &
    * Hanks, CL'90). PMI(a,b) = ln(c(a,b)·N / (cₗ(a)·cᵣ(b))) over the
    * corpus's adjacent-pair stream, reported for pairs seen ≥ 5 times.
    *
    * Scale posture: the pair stream is a scan-local flatten (same
    * sequence/element_at shape as q110 — never a positions self-join),
    * and everything after the FIRST pair exchange runs on vocab²-bounded
    * rows. The marginals and the grand total are WINDOW sums over the
    * compacted pair table — not re-aggregation branches joined back,
    * which (the q103 exchange-reuse lesson) re-runs the corpus-sized
    * pair aggregate once per branch when reuse misses: the naive
    * 3-branch join form measured 8 shuffles, this linear chain runs 5,
    * every post-pair exchange moving ≤ vocab² rows. */
  val q119_pmi_collocations = QueryDef(
    "q119_pmi_collocations",
    """WITH t AS (SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                             w -> length(w) > 0) AS ws
      |           FROM documents),
      |p AS (SELECT ws[CAST(i AS INT)] AS a, ws[CAST(i AS INT) + 1] AS b
      |      FROM t, unnest(range(1, len(ws))) AS r(i)
      |      WHERE len(ws) >= 2),
      |c AS (SELECT a, b, COUNT(*) AS n FROM p GROUP BY a, b),
      |w AS (SELECT a, b, n,
      |        SUM(n) OVER (PARTITION BY a) AS ca,
      |        SUM(n) OVER (PARTITION BY b) AS cb,
      |        SUM(n) OVER () AS nn
      |      FROM c)
      |SELECT a, b, CAST(n AS BIGINT) AS n,
      |  ROUND(ln((CAST(n AS DOUBLE) * CAST(nn AS DOUBLE))
      |           / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))), 4) AS pmi
      |FROM w WHERE n >= 5 ORDER BY a, b""".stripMargin) { (s, d) =>
    // r12 (guide §4): adjacent pairs via arrays_zip of the two slices —
    // whole-stage codegen, no interpreted lambda (the q116 rewrite)
    val pairs = Tables.documents(s, d)
      .select(Text.wordsOf(col("text")).as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("p"))
      .select(col("p").getField("0").as("a"), col("p").getField("1").as("b"))
    pairs.groupBy("a", "b").agg(count(lit(1)).as("n"))
      .select(col("a"), col("b"), col("n"),
        sum("n").over(Window.partitionBy("a")).as("ca"),
        sum("n").over(Window.partitionBy("b")).as("cb"),
        sum("n").over(Window.partitionBy()).as("nn"))
      .where(col("n") >= 5)
      .select(col("a"), col("b"), col("n").cast("long").as("n"),
        round(log((col("n").cast("double") * col("nn").cast("double"))
          / (col("ca").cast("double") * col("cb").cast("double"))), 4).as("pmi"))
      .orderBy("a", "b")
  }

  /** q120: vocabulary coverage curve — for every word, ranked by corpus
    * frequency, the cumulative share of all token occurrences a vocab
    * truncated at that rank would cover. THE sizing curve for tokenizer
    * vocabulary selection ("how big must V be for 99% coverage?").
    *
    * Scale posture: the corpus collapses to the vocab-sized unigram
    * table in ONE exchange (map-side partials over a bounded keyspace);
    * the rank/cumsum window is a single partition BY DESIGN — it sorts
    * the VOCABULARY (≤ a few million rows for any real tokenizer
    * corpus), never the corpus, so the WindowExec single-partition
    * warning is about dimension-sized data. */
  val q120_vocab_coverage = QueryDef(
    "q120_vocab_coverage",
    s"""WITH $TokensCte,
      |u AS (SELECT word, COUNT(*) AS n FROM tokens GROUP BY word)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS BIGINT) AS rank,
      |  word, CAST(n AS BIGINT) AS n,
      |  ROUND(CAST(SUM(n) OVER (ORDER BY n DESC, word) AS DOUBLE)
      |        / SUM(n) OVER (), 6) AS cum_share
      |FROM u ORDER BY rank""".stripMargin) { (s, d) =>
    val byFreq = Window.orderBy(col("n").desc, col("word"))
    val whole = Window.partitionBy()
    tokens(s, d).groupBy("word").agg(count(lit(1)).as("n"))
      .select(
        row_number().over(byFreq).cast("long").as("rank"),
        col("word"), col("n").cast("long").as("n"),
        round(sum("n").over(byFreq.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).cast("double")
          / sum("n").over(whole), 6).as("cum_share"))
      .orderBy("rank")
  }

  /** q121: robust length outliers by median absolute deviation — the
    * MAD twin of q61's percentile bands: per source, med = median of
    * n_chars and MAD = median(|n_chars − med|); a doc is an outlier
    * when its absolute deviation exceeds 3·MAD. MAD survives up to 50%
    * contamination (breakdown point), where q61's p05/p95 band moves
    * with as little as 5% — the robust-statistics ladder a quality
    * pipeline actually climbs.
    *
    * Scale posture: two corpus scans, each collapsing to the
    * #sources-row statistic table in one exact-percentile hash agg. The
    * stat joins are deliberately UN-hinted: `source` is the one fixture
    * dimension that grows unboundedly on a real crawl (domains — easily
    * 10⁷ at 100 TB), the same class as q27's Heaps-law vocabulary. AQE
    * picks broadcast while the stat table is small and degrades to a
    * shuffled join instead of a driver OOM when it isn't
    * (PlanShapeSpec pins the degrade). */
  val q121_mad_outliers = QueryDef(
    "q121_mad_outliers",
    """WITH m AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
      |           FROM documents GROUP BY source),
      |d2 AS (SELECT doc_id, d.source, n_chars, med,
      |         ABS(n_chars - med) AS dev
      |       FROM documents d JOIN m USING (source)),
      |md AS (SELECT source, quantile_cont(dev, 0.5) AS mad
      |       FROM d2 GROUP BY source)
      |SELECT doc_id, d2.source, CAST(n_chars AS BIGINT) AS n_chars,
      |  ROUND(d2.med, 2) AS med, ROUND(mad, 2) AS mad,
      |  CAST(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END AS BIGINT) AS outlier
      |FROM d2 JOIN md USING (source) ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val m = docs.groupBy("source").agg(expr("percentile(n_chars, 0.5)").as("med"))
    val d2 = docs.join(m, "source")
      .select(col("doc_id"), col("source"), col("n_chars"), col("med"),
        abs(col("n_chars") - col("med")).as("dev"))
    val md = d2.groupBy("source").agg(expr("percentile(dev, 0.5)").as("mad"))
    d2.join(md, "source")
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"),
        round(col("med"), 2).as("med"), round(col("mad"), 2).as("mad"),
        when(col("dev") > lit(3) * col("mad"), 1L).otherwise(0L).as("outlier"))
      .orderBy("doc_id")
  }

  /** q122: near-duplication provenance matrix — for every near-dup pair
    * (q26's exact-Jaccard ≥ 0.8 contract, doc_id < 100), count pairs per
    * unordered (source, source) combination: the "who copies from whom"
    * audit a corpus-curation pipeline runs before deciding which source
    * to drop. Diagonal cells are intra-source duplication; off-diagonal
    * cells are cross-source mirroring.
    *
    * Scale posture: source provenance RIDES the pair pipeline — each
    * side of the word self-join carries its source column, so the pair
    * aggregate's key gains two functionally-dependent columns and the
    * plan needs NO doc→source join after pair generation (a corpus-sized
    * dimension join, the r6 broadcast-losers lesson). The matrix
    * aggregate then re-keys pair-sized rows into ≤ |sources|² cells. */
  val q122_neardup_matrix = QueryDef(
    "q122_neardup_matrix",
    s"""WITH $TokensCte,
      |t AS (SELECT DISTINCT t0.doc_id, d0.source, word
      |      FROM tokens t0 JOIN documents d0 ON d0.doc_id = t0.doc_id
      |      WHERE t0.doc_id < 100),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b,
      |            x.source AS sa, y.source AS sb, COUNT(*) AS i
      |          FROM t x JOIN t y ON x.word = y.word AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id, x.source, y.source),
      |pairs AS (SELECT sa, sb FROM inter
      |          JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
      |          WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= 0.8)
      |SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
      |  CAST(COUNT(*) AS BIGINT) AS dup_pairs
      |FROM pairs GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin) {
    (s, d) =>
      val t = Text.tokens(Tables.documents(s, d), "source")
        .where(col("doc_id") < 100)
        .select("doc_id", "source", "word").distinct()
      val sz = t.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val x = t.select(col("doc_id").as("a"), col("source").as("sa"), col("word").as("w"))
      val y = t.select(col("doc_id").as("b"), col("source").as("sb"), col("word").as("w2"))
      val inter = x.join(y, col("w") === col("w2") && col("a") < col("b"))
        .groupBy("a", "b", "sa", "sb").agg(count(lit(1)).as("i"))
      inter
        .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .where(col("i").cast("double") / (col("na") + col("nb") - col("i")) >= 0.8)
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("dup_pairs"))
        .orderBy("source_a", "source_b")
  }

  /** q126: dedup threshold sensitivity curve — pair counts at every
    * candidate Jaccard threshold from 0.50 to 0.95 in one pass: the
    * tuning artifact behind "which τ do we dedup at", showing how fast
    * the pair set grows as the bar drops. Same bounded contract as q26
    * (doc_id < 100).
    *
    * Scale posture: pairs are computed ONCE at the loosest threshold
    * (τ = 0.5) by [[exactJaccardPairs]]; the curve is then a scan-local
    * fan-out (each pair emits the thresholds it clears — ≤ 10 literals)
    * into a ≤ 10-key aggregate, so the sweep costs one pair pipeline,
    * not ten. Both engines compare the SAME 4-decimal-rounded Jaccard
    * against the same double literals. */
  val q126_threshold_curve = QueryDef(
    "q126_threshold_curve",
    s"""WITH $TokensCte,
      |t AS (SELECT DISTINCT doc_id, word FROM tokens WHERE doc_id < 100),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |          FROM t x JOIN t y ON x.word = y.word AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id),
      |pairs AS (SELECT ROUND(CAST(i AS DOUBLE) / (za.n + zb.n - i), 4) AS jac
      |          FROM inter
      |          JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
      |          WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= 0.5),
      |th AS (SELECT unnest([50, 55, 60, 65, 70, 75, 80, 85, 90, 95]) AS t)
      |SELECT CAST(t AS BIGINT) AS threshold,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM pairs CROSS JOIN th WHERE jac >= t / 100.0
      |GROUP BY t ORDER BY threshold""".stripMargin) { (s, d) =>
    val thresholds = array((50 to 95 by 5).map(t => lit(t)): _*)
    exactJaccardPairs(
      tokens(s, d).where(col("doc_id") < 100).select("doc_id", "word").distinct(),
      0.5)
      .select(explode(filter(thresholds,
        t => col("jac") >= t.cast("double") / 100.0)).as("threshold"))
      .groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
      .select(col("threshold").cast("long").as("threshold"), col("n_pairs"))
      .orderBy("threshold")
  }

  /** q127: duplicate-cluster size distribution — dedup observability:
    * how big do near-dup clusters get before election? The histogram
    * (cluster_size → n_clusters) over q48's connected components is
    * what a curation team reads to pick between "drop all but one" and
    * "cap per cluster", and a heavy tail here is the early warning for
    * boilerplate floods. Same bounded contract as q26/q48
    * (doc_id < 100); singleton documents (no pair) are by definition
    * absent — sizes start at 2.
    *
    * Scale posture: rides the q48 pipeline (guarded pairs → pointer-
    * jumped components, node-sized label state); the two histogram
    * aggregates move component-count-sized then size-count-sized rows
    * — nothing data-sized after the pair stage. */
  val q127_cluster_sizes = QueryDef(
    "q127_cluster_sizes",
    s"""WITH RECURSIVE $TokensCte,
      |t AS (SELECT DISTINCT doc_id, word FROM tokens WHERE doc_id < 100),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |          FROM t x JOIN t y ON x.word = y.word AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id),
      |pairs AS (SELECT a, b FROM inter
      |          JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION SELECT b, a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      |comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
      |sizes AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |          FROM comp GROUP BY rep)
      |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin) {
    (s, d) =>
      val pairs = exactJaccardPairs(
        tokens(s, d).where(col("doc_id") < 100)
          .select("doc_id", "word").distinct(),
        0.8).select("a", "b")
      connectedComponents(pairs)
        .groupBy("rep").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
  }

  /** q132: leakage-safe train/test split — the assignment step a
    * training pipeline runs AFTER near-dup detection: the split is a
    * deterministic function of the near-dup CLUSTER representative,
    * never the document, so two near-duplicate documents can never
    * straddle train and test (the classic eval-contamination bug that
    * per-doc hashing causes). Singletons are their own representative;
    * rep % 5 = 4 → test (a 20% holdout that re-runs and engines agree
    * on bit-for-bit — no rand()). Same bounded contract as q48
    * (doc_id < 100).
    *
    * Scale posture: rides the q48 pair pipeline (guarded pairs →
    * pointer-jumped components, node-sized label state); the label
    * attach is ONE doc-keyed left join against the node-sized label
    * table, and the split itself is a scan-local expression — no
    * corpus-sized work beyond the pair stage and one join. */
  val q132_leakage_split = QueryDef(
    "q132_leakage_split",
    s"""WITH RECURSIVE $TokensCte,
      |t AS (SELECT DISTINCT doc_id, word FROM tokens WHERE doc_id < 100),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |          FROM t x JOIN t y ON x.word = y.word AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id),
      |pairs AS (SELECT a, b FROM inter
      |          JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION SELECT b, a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      |comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
      |SELECT d.doc_id, COALESCE(comp.rep, d.doc_id) AS cluster_rep,
      |  CASE WHEN COALESCE(comp.rep, d.doc_id) % 5 = 4 THEN 'test'
      |       ELSE 'train' END AS split
      |FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
      |WHERE d.doc_id < 100 ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val pairs = exactJaccardPairs(
      tokens(s, d).where(col("doc_id") < 100)
        .select("doc_id", "word").distinct(),
      0.8).select("a", "b")
    val labels = connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("rep"))
    Tables.documents(s, d).where(col("doc_id") < 100).select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("cluster_rep"))
      .withColumn("split",
        when(col("cluster_rep") % 5 === 4, lit("test")).otherwise(lit("train")))
      .orderBy("doc_id")
  }

  /** q133: population stability index per source — the distribution-
    * drift gate a pipeline runs when a new source lands: bin the
    * document-length distribution by the CORPUS deciles (the q125
    * interpolated cuts), then score each source's shape against the
    * corpus with PSI = Σ_b (p_b − q_b)·ln(p_b/q_b). The industry rule
    * of thumb (PSI < 0.1 stable, > 0.25 shifted) is what this feeds.
    * Laplace smoothing (+1 per bin, +10 per total) keeps empty
    * source-bins finite — identical integer arithmetic in both
    * engines before the one final ln/divide.
    *
    * Scale posture: corpus-sized work is two scans — the decile agg
    * (map-side partials) and the bin assignment against the broadcast
    * 9-cut array — feeding ONE source-keyed aggregate whose 10
    * conditional sums collapse each partition to ≤ n_sources rows
    * with a 10-element count array (the complete grid by
    * construction: missing bins are genuine zeros, no grid join
    * needed). Corpus totals fold those arrays once more (1-row
    * broadcast), and the PSI itself is a scan-local zip_with fold.
    * The SQL parity text is the explicit grid × marginal-join
    * formulation, so the oracle proves the array decomposition. */
  val q133_psi_drift = QueryDef(
    "q133_psi_drift",
    """WITH e AS (SELECT source, n_chars AS v FROM documents),
      |k AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
      |                               0.6, 0.7, 0.8, 0.9]) AS cuts
      |      FROM e),
      |b AS (SELECT source,
      |        CAST(len(list_filter(cuts, c -> v > c)) AS BIGINT) AS bin
      |      FROM e CROSS JOIN k),
      |sb AS (SELECT source, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
      |srcs AS (SELECT source, SUM(c) AS ns FROM sb GROUP BY source),
      |bins AS (SELECT unnest(range(0, 10)) AS bin),
      |cb AS (SELECT bin, SUM(c) AS cnt_b FROM sb GROUP BY bin),
      |tot AS (SELECT SUM(c) AS n FROM sb),
      |grid AS (SELECT s.source, s.ns, bb.bin
      |         FROM srcs s CROSS JOIN bins bb),
      |f AS (SELECT g.source, g.ns, g.bin,
      |        COALESCE(sb.c, 0) AS cs, COALESCE(cb.cnt_b, 0) AS cnt_b
      |      FROM grid g
      |      LEFT JOIN sb ON sb.source = g.source AND sb.bin = g.bin
      |      LEFT JOIN cb ON cb.bin = g.bin)
      |SELECT source, ROUND(SUM(
      |    ((cs + 1.0) / (ns + 10.0) - (cnt_b + 1.0) / (n + 10.0)) *
      |    ln(((cs + 1.0) / (ns + 10.0)) /
      |       ((cnt_b + 1.0) / (n + 10.0)))), 4) AS psi
      |FROM f CROSS JOIN tot GROUP BY source ORDER BY source""".stripMargin) {
    (s, d) =>
      val e = Tables.documents(s, d)
        .select(col("source"), col("n_chars").as("v"))
      val cuts = e.agg(
        expr("percentile(v, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))")
          .as("cuts"))
      val per = e.crossJoin(broadcast(cuts))
        .select(col("source"),
          size(filter(col("cuts"), c => col("v") > c)).as("bin"))
        .groupBy("source")
        .agg(count(lit(1)).as("ns"),
          array((0 to 9).map(b =>
            sum(when(col("bin") === b, 1L).otherwise(0L))): _*).as("cs"))
      val tot = per.agg(sum("ns").as("n"),
        array((0 to 9).map(b => sum(col("cs")(b))): _*).as("cb"))
      per.crossJoin(broadcast(tot))
        .select(col("source"),
          round(aggregate(
            zip_with(col("cs"), col("cb"), (a, b) => {
              val p = (a.cast("double") + 1.0d) / (col("ns").cast("double") + 10.0d)
              val q = (b.cast("double") + 1.0d) / (col("n").cast("double") + 10.0d)
              (p - q) * log(p / q)
            }),
            lit(0.0d), (acc, x) => acc + x), 4).as("psi"))
        .orderBy("source")
  }

  /** q134: reciprocal rank fusion — the standard way to combine two
    * retrieval rankings without score calibration (Cormack et al.,
    * SIGIR'09): each ranking contributes 1/(60 + rank) and the fused
    * score is the sum. Here the two rankings are a term-match ranking
    * (occurrences of the query terms, the q60 retrieval family) and a
    * length prior — the hybrid-search shape (BM25 ⊕ dense) an LLM
    * retrieval stack runs every query. Ranks come from each ranking's
    * top-50 list (absent → no contribution), the honest fusion
    * contract at scale: you fuse top-k LISTS, never full rankings.
    *
    * Scale posture: each ranking ends in TakeOrderedAndProject (top-50
    * without a global sort); the row_number windows and the full outer
    * join then run on 50-row frames — list-sized, not corpus-sized.
    * The term aggregate is the only corpus-keyed exchange. */
  val q134_rank_fusion = QueryDef(
    "q134_rank_fusion",
    s"""WITH RECURSIVE $TokensCte,
      |tf AS (SELECT doc_id, COUNT(*) AS s0 FROM tokens
      |       WHERE word IN ('spark', 'join', 'table') GROUP BY doc_id),
      |t50 AS (SELECT doc_id, s0 FROM tf ORDER BY s0 DESC, doc_id LIMIT 50),
      |rb AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s0 DESC, doc_id)
      |         AS r_terms FROM t50),
      |l50 AS (SELECT doc_id, n_chars FROM documents
      |        ORDER BY n_chars DESC, doc_id LIMIT 50),
      |rq AS (SELECT doc_id,
      |         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r_len
      |       FROM l50),
      |f AS (SELECT COALESCE(rb.doc_id, rq.doc_id) AS doc_id,
      |        rb.r_terms, rq.r_len
      |      FROM rb FULL JOIN rq ON rb.doc_id = rq.doc_id)
      |SELECT doc_id, r_terms, r_len,
      |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_terms), 0) +
      |        COALESCE(CAST(1.0 AS DOUBLE) / (60 + r_len), 0), 4) AS rrf
      |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
    val wT = Window.orderBy(col("s0").desc, col("doc_id"))
    val rb = tokens(s, d)
      .where(col("word").isin("spark", "join", "table"))
      .groupBy("doc_id").agg(count(lit(1)).as("s0"))
      .orderBy(col("s0").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), row_number().over(wT).cast("long").as("r_terms"))
    val wL = Window.orderBy(col("n_chars").desc, col("doc_id"))
    val rq = Tables.documents(s, d).select("doc_id", "n_chars")
      .orderBy(col("n_chars").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), row_number().over(wL).cast("long").as("r_len"))
    rb.join(rq, Seq("doc_id"), "full")
      .select(col("doc_id"), col("r_terms"), col("r_len"),
        round(coalesce(lit(1.0d) / (col("r_terms") + 60), lit(0.0d)) +
          coalesce(lit(1.0d) / (col("r_len") + 60), lit(0.0d)), 4).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(20)
  }

  // ------------------------------------- per-source length-rank family
  // q135/q141/q144 all need rk = ROW_NUMBER() OVER (PARTITION BY source
  // ORDER BY n_chars, doc_id). A window puts every row of one source in
  // ONE task — a 4M-row hot source measured 10–25 s max tasks (SKEW_r11
  // hot-source addendum), the document-side twin of the events family's
  // hot-user class. Same cure: probe the hottest source, route.

  /** DENSE per-source length rank: the plain window. Fastest on even
    * sources; max task linear in the hottest source's rows. Input needs
    * (doc_id, source, n_chars); adds `rk` (long). */
  def sourceLengthRanks(docs: DataFrame): DataFrame =
    docs.withColumn("rk",
      row_number().over(
        Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .cast("long"))

  /** Skew-safe EXACT per-source length rank — [[RangeStitch.withRangeRank]]
    * on (source | n_chars, doc_id): the range exchange is the chunker,
    * so no per-source task ever sees more than ~1/numPartitions of the
    * corpus whatever the source distribution. Measured (SKEW_r11_hotsrc
    * .json): at a 4M-row hot source it wins wall 1.6× and max task 5.1×
    * over the dense window; on even data it costs 1.8× — which is why
    * the registry routes through [[sourceLengthRanksAuto]]. Full
    * derivation and contracts (non-null key, unique sort key, unordered
    * output) in [[RangeStitch]]'s scaladoc. */
  def sourceLengthRanksRange(docs: DataFrame): DataFrame =
    RangeStitch.withRangeRank(docs, "source", Seq("n_chars", "doc_id"))

  /** [[sourceLengthRanks]] vs [[sourceLengthRanksRange]] by measured
    * source skew — [[RangeStitch.routeBySkew]] on the documents axis
    * (the sample hashes (source, doc_id): doc_id keeps it per-row
    * uniform);
    * q135/q141/q144 route through this with the fixture dir as
    * `probeCacheKey` (ONE probe scan per corpus per JVM). Both plans
    * produce identical rows (unique sort key ⇒ one valid rank
    * assignment; parity pinned in TextPipelineSpec), so routing never
    * changes results. */
  def sourceLengthRanksAuto(docs: DataFrame,
                            hotSourceRowThreshold: Long =
                              RangeStitch.defaultHotKeyRowThreshold,
                            sampleMod: Int = 100,
                            probeCacheKey: Option[String] = None): DataFrame =
    RangeStitch.routeBySkew(docs, Seq(col("source")),
      Seq(col("source"), col("doc_id")), hotSourceRowThreshold, sampleMod,
      probeCacheKey)(sourceLengthRanks(docs), sourceLengthRanksRange(docs))

  /** q135: quantile normalization across sources — the microarray-
    * normalization classic applied to corpus curation: force every
    * source's score distribution onto the shared shape by replacing
    * each document's value with the cross-source MEAN at its in-source
    * rank. This is how heterogeneous quality/length signals become
    * comparable before a single global threshold is applied. (When
    * sources differ in size, the rank-mean averages the sources that
    * reach that rank — the standard generalization.)
    *
    * Scale posture: one source-keyed window ranks within each source
    * (distributes across sources), one rank-keyed aggregate builds the
    * reference distribution (corpus/n_sources rows), and one rank-
    * keyed join maps it back — three key-sized exchanges, no global
    * sort except the output ORDER BY. */
  val q135_quantile_norm = QueryDef(
    "q135_quantile_norm",
    """WITH v AS (SELECT doc_id, source, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY n_chars, doc_id) AS rk
      |       FROM documents),
      |m AS (SELECT rk, AVG(CAST(n_chars AS DOUBLE)) AS qv
      |      FROM v GROUP BY rk)
      |SELECT v.doc_id, v.source, v.n_chars, ROUND(m.qv, 4) AS qnorm
      |FROM v JOIN m ON v.rk = m.rk ORDER BY doc_id""".stripMargin) { (s, d) =>
    val v = sourceLengthRanksAuto(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars")),
      probeCacheKey = Some(d))
    val m = v.groupBy("rk").agg(avg(col("n_chars").cast("double")).as("qv"))
    v.join(m, Seq("rk"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(col("qv"), 4).as("qnorm"))
      .orderBy("doc_id")
  }

  /** q136: padding-waste report for length-bucketed batching — the
    * batching diagnostic an LLM training pipeline reads before picking
    * bucket boundaries: group documents into power-of-two token-length
    * buckets and report, per bucket, how many pad tokens a
    * pad-to-bucket-max batching strategy burns (n·max − Σ) and the
    * wasted fraction. Compare waste_frac across bucketings to choose
    * boundaries; the no-bucketing baseline is the single-bucket
    * degenerate case.
    *
    * Scale posture: the token count and bucket id are scan-local
    * expressions; ONE bucket-keyed aggregate (≤ ~20 keys — buckets are
    * log-bounded) collapses everything map-side, + the output sort.
    * log2 of an exact integer is exact IEEE, so both engines bucket
    * identically. */
  val q136_padding_waste = QueryDef(
    "q136_padding_waste",
    """WITH t AS (SELECT doc_id,
      |    GREATEST(CAST(len(list_filter(
      |      regexp_split_to_array(lower(text), '[^a-z]+'),
      |      x -> length(x) > 0)) AS BIGINT), 1) AS n_tok
      |  FROM documents),
      |b AS (SELECT CAST(FLOOR(log2(n_tok)) AS BIGINT) AS bucket, n_tok
      |      FROM t)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MAX(n_tok) AS max_tok, CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
      |  CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS BIGINT) AS pad_waste,
      |  ROUND(CAST(COUNT(*) * MAX(n_tok) - SUM(n_tok) AS DOUBLE) /
      |        (COUNT(*) * MAX(n_tok)), 4) AS waste_frac
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(greatest(size(wordsCol).cast("long"), lit(1L)).as("n_tok"))
      .select(floor(log2(col("n_tok"))).cast("long").as("bucket"),
        col("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), max("n_tok").as("max_tok"),
        sum("n_tok").cast("long").as("sum_tok"))
      .select(col("bucket"), col("n_docs"), col("max_tok"), col("sum_tok"),
        (col("n_docs") * col("max_tok") - col("sum_tok")).cast("long")
          .as("pad_waste"),
        round((col("n_docs") * col("max_tok") - col("sum_tok")).cast("double")
          / (col("n_docs") * col("max_tok")), 4).as("waste_frac"))
      .orderBy("bucket")
  }

  /** q137: deterministic systematic weighted sampling — pick ~100
    * documents with probability proportional to weight (length here;
    * quality in production) WITHOUT rand(): lay every document's
    * weight on a line, drop sample points at i·(total/100) for
    * i = 1..100, and a document is picked once per point inside its
    * span (heavy documents can be picked multiple times — n_picks is
    * the multiplicity, as importance sampling requires). A pure
    * function of the data: re-runs and engines agree exactly.
    *
    * Scale posture: the cumulative weight uses q94's two-level prefix
    * decomposition — per-shard window prefixes plus a shard-count-
    * sized serial offset scan — so no global window ever sees the
    * corpus; the total is a 1-row broadcast and the span test is
    * scan-local. The SQL parity text is the flat global-window form,
    * so the oracle proves the decomposition. */
  val q137_weighted_sample = QueryDef(
    "q137_weighted_sample",
    """WITH t AS (SELECT doc_id, n_chars AS w FROM documents),
      |c AS (SELECT doc_id, w,
      |        CAST(COALESCE(SUM(w) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS cb
      |      FROM t),
      |tot AS (SELECT CAST(SUM(w) AS DOUBLE) / 100 AS step FROM t)
      |SELECT doc_id, w AS weight,
      |  CAST(FLOOR((cb + w) / step) - FLOOR(cb / step) AS BIGINT)
      |    AS n_picks
      |FROM c CROSS JOIN tot
      |WHERE FLOOR((cb + w) / step) - FLOOR(cb / step) > 0
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("w"))
      .withColumn("shard", expr("doc_id DIV 1024"))
    val wLocal = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wShard = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = t.groupBy("shard").agg(sum("w").as("stot"))
      .withColumn("base", coalesce(sum("stot").over(wShard), lit(0L)))
      .select("shard", "base")
    val tot = t.agg((sum("w").cast("double") / 100).as("step"))
    val picks =
      floor((col("cb") + col("w")) / col("step")) - floor(col("cb") / col("step"))
    t.withColumn("local", coalesce(sum("w").over(wLocal), lit(0L)))
      .join(offs, Seq("shard"))
      .withColumn("cb", col("local") + col("base"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("w").as("weight"),
        picks.cast("long").as("n_picks"))
      .where(col("n_picks") > 0)
      .orderBy("doc_id")
  }

  /** q138: Cohen's kappa for the language-ID classifier — chance-
    * corrected agreement between q28's marker-argmax prediction and
    * the labelled lang: κ = (p_o − p_e)/(1 − p_e), the evaluation
    * statistic a curation pipeline reports when it audits an automatic
    * labeller against ground truth (accuracy alone overstates
    * agreement under skewed class priors).
    *
    * Scale posture: the classifier pipeline is q28's (one doc-keyed
    * marker aggregate + the label join); the contingency matrix is
    * never materialized — both marginals and the diagonal fold into
    * ONE global aggregate of 2·|classes|+2 conditional sums (classes
    * are the fixed Markers literals), so after the per-doc frame
    * exactly one 1-row exchange remains. */
  val q138_kappa = QueryDef(
    "q138_kappa", {
      val rows = Markers.map { case (l, _) =>
        s"SUM(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS r_$l"
      }.mkString(",\n  ")
      val cols = Markers.map { case (l, _) =>
        s"SUM(CASE WHEN pred = '$l' THEN 1 ELSE 0 END) AS k_$l"
      }.mkString(",\n  ")
      val peNum = Markers.map { case (l, _) => s"r_$l * k_$l" }.mkString(" + ")
      s"""WITH RECURSIVE $TokensCte,
        |$LangPredCtes,
        |j AS (SELECT lang, pred FROM p
        |      JOIN documents ON p.doc_id = documents.doc_id),
        |agg AS (SELECT COUNT(*) AS n,
        |  SUM(CASE WHEN lang = pred THEN 1 ELSE 0 END) AS agree,
        |  $rows,
        |  $cols
        |FROM j),
        |r AS (SELECT n, agree * CAST(1.0 AS DOUBLE) / n AS po,
        |        ($peNum) * CAST(1.0 AS DOUBLE) / (n * n) AS pe
        |      FROM agg)
        |SELECT CAST(n AS BIGINT) AS n, ROUND(po, 4) AS po,
        |  ROUND(pe, 4) AS pe, ROUND((po - pe) / (1 - pe), 4) AS kappa
        |FROM r""".stripMargin
    }) { (s, d) =>
    val j = langPredictions(s, d)
    val rowSums = Markers.map { case (l, _) =>
      sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"r_$l") }
    val colSums = Markers.map { case (l, _) =>
      sum(when(col("pred") === l, 1L).otherwise(0L)).as(s"k_$l") }
    val aggCols = Seq(count(lit(1)).as("n"),
      sum(when(col("lang") === col("pred"), 1L).otherwise(0L)).as("agree")) ++
      rowSums ++ colSums
    val peNum = Markers.map { case (l, _) => col(s"r_$l") * col(s"k_$l") }
      .reduce(_ + _)
    j.agg(aggCols.head, aggCols.tail: _*)
      .withColumn("po", col("agree").cast("double") / col("n"))
      .withColumn("pe", peNum.cast("double") / (col("n") * col("n")))
      .select(col("n").cast("long").as("n"), round(col("po"), 4).as("po"),
        round(col("pe"), 4).as("pe"),
        round((col("po") - col("pe")) / (lit(1) - col("pe")), 4).as("kappa"))
  }

  /** q140: training-mixture token allocator — the data-recipe table
    * (the Pile / LLaMA shape): per-source token counts, upsampling
    * weight ∝ √tokens (sub-linear so small high-value sources are not
    * drowned; 0.5 instead of the literature's ~0.7 because IEEE sqrt
    * is CORRECTLY ROUNDED — both engines agree bit-for-bit where
    * pow(x, 0.7) is implementation-defined in the last ulp), target
    * tokens for a fixed 1M-token budget, and epochs = target/actual
    * (>1 ⇒ the source repeats).
    *
    * Scale posture: ONE source-keyed aggregate with the scan-local
    * token count folded map-side; everything after operates on the
    * #sources-row recipe table, with the normalizer a 1-row
    * broadcast. */
  val q140_mixture_alloc = QueryDef(
    "q140_mixture_alloc",
    """WITH t AS (SELECT source,
      |    CAST(SUM(len(list_filter(
      |      regexp_split_to_array(lower(text), '[^a-z]+'),
      |      x -> length(x) > 0))) AS BIGINT) AS toks
      |  FROM documents GROUP BY source),
      |z AS (SELECT SUM(sqrt(CAST(toks AS DOUBLE))) AS z FROM t)
      |SELECT source, toks,
      |  ROUND(sqrt(CAST(toks AS DOUBLE)) / z, 4) AS weight,
      |  CAST(FLOOR(sqrt(CAST(toks AS DOUBLE)) / z * 1000000) AS BIGINT)
      |    AS target_toks,
      |  ROUND(sqrt(CAST(toks AS DOUBLE)) / z * 1000000 / toks, 4) AS epochs
      |FROM t CROSS JOIN z ORDER BY source""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("source"), size(wordsCol).cast("long").as("n_tok"))
      .groupBy("source").agg(sum("n_tok").as("toks"))
    val z = t.agg(sum(sqrt(col("toks").cast("double"))).as("z"))
    t.crossJoin(broadcast(z))
      .withColumn("raw", sqrt(col("toks").cast("double")))
      .select(col("source"), col("toks"),
        round(col("raw") / col("z"), 4).as("weight"),
        floor(col("raw") / col("z") * 1000000).cast("long").as("target_toks"),
        round(col("raw") / col("z") * 1000000 / col("toks"), 4).as("epochs"))
      .orderBy("source")
  }

  /** q141: curriculum interleave — a deterministic global training
    * order that is BOTH difficulty-ordered (shorter documents first
    * within each source — swap in any difficulty score) and source-
    * interleaved (consecutive positions cycle through sources, so no
    * batch is single-source). The key scale decision: the global
    * position is a FORMULA, pos = (rank−1)·k + source_index, not a
    * global ORDER BY — no corpus ever passes through a single-
    * partition window. When a source exhausts, its slots go unused
    * (positions stay sparse but ordered) — the round-robin-with-gaps
    * contract.
    *
    * Scale posture: one source-keyed rank window (distributes across
    * sources) + a #sources-row dim for the index and k; the top-100
    * output is TakeOrdered, no global sort. The dim join is UN-hinted
    * (source cardinality is unbounded on a real crawl — the q27/q121
    * class; AQE broadcasts while small, shuffles instead of OOMing
    * when not). Only the 1-row count k keeps its hint. Latent
    * assumption worth naming: `sidx` comes from an unpartitioned
    * `Window.orderBy(source)` over the DISTINCT-source table — a
    * single task over |sources| rows, fine at 10⁷ sources (ids + ranks
    * only), but the first thing to bucket (range-partitioned
    * zipWithIndex) if sources ever outgrow one task's memory. */
  val q141_curriculum = QueryDef(
    "q141_curriculum",
    """WITH r AS (SELECT doc_id, source,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |                            ORDER BY n_chars, doc_id) AS rk
      |       FROM documents),
      |s AS (SELECT source, ROW_NUMBER() OVER (ORDER BY source) AS sidx
      |      FROM (SELECT DISTINCT source FROM documents)),
      |k AS (SELECT COUNT(*) AS k FROM s)
      |SELECT (r.rk - 1) * k.k + s.sidx AS pos, r.doc_id, r.source,
      |  r.rk AS rk
      |FROM r JOIN s ON r.source = s.source CROSS JOIN k
      |ORDER BY pos LIMIT 100""".stripMargin) { (s, d) =>
    val r = sourceLengthRanksAuto(
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars")),
      probeCacheKey = Some(d))
    val srcs = Tables.documents(s, d).select("source").distinct()
      .withColumn("sidx",
        row_number().over(Window.orderBy("source")).cast("long"))
    val k = srcs.agg(count(lit(1)).as("k"))
    r.join(srcs, Seq("source"))
      .crossJoin(broadcast(k))
      .select(((col("rk") - 1) * col("k") + col("sidx")).as("pos"),
        col("doc_id"), col("source"), col("rk"))
      .orderBy("pos").limit(100)
  }

  /** q144: per-source Gini coefficient of document lengths — the
    * inequality statistic a curation team reads next to q133's PSI:
    * a source whose length mass is concentrated in a few huge
    * documents (Gini → 1) needs chunking or length caps before it can
    * be mixed; a uniform source (Gini → 0) doesn't. Uses the sorted-
    * rank identity G = (2·Σᵢ i·xᵢ − (n+1)·Σᵢ xᵢ) / (n·Σᵢ xᵢ) — every
    * sum is exact integer arithmetic until the one final division, so
    * both engines agree bit-for-bit before the ROUND. Rank ties (equal
    * lengths) are broken by doc_id; any tie order yields the same Σ
    * i·xᵢ because the tied xᵢ are equal.
    *
    * Scale posture: one SOURCE-keyed rank window (distributes across
    * sources — never a global sort) whose partitioning the follow-up
    * source-keyed aggregate reuses; output is #sources rows. */
  val q144_gini = QueryDef(
    "q144_gini",
    """WITH r AS (SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |                       ORDER BY n_chars, doc_id) AS rk
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND((2.0 * SUM(rk * n_chars) - (COUNT(*) + 1) * SUM(n_chars))
      |        / (COUNT(*) * SUM(n_chars)), 4) AS gini
      |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    sourceLengthRanksAuto(
      Tables.documents(s, d).select("source", "doc_id", "n_chars"),
      probeCacheKey = Some(d))
      .groupBy("source").agg(
        count(lit(1)).as("n"),
        sum("n_chars").as("sx"),
        sum(col("rk") * col("n_chars")).as("srx"))
      .select(col("source"), col("n"),
        round((lit(2.0) * col("srx") - (col("n") + 1) * col("sx")) /
          (col("n") * col("sx")), 4).as("gini"))
      .orderBy("source")
  }

  /** q145: cap-per-cluster dedup policy — the OTHER election rule
    * q127's histogram feeds: instead of "drop all but one" (q58/q71),
    * keep the best ≤ 2 documents of every near-dup cluster (quality =
    * longer first, doc_id tiebreak), which preserves benign template
    * variation while still collapsing boilerplate floods. Singletons
    * are their own cluster and trivially survive. Same bounded
    * contract as q26/q48 (doc_id < 100).
    *
    * Scale posture: rides the q48 pipeline (guarded pairs → pointer-
    * jumped components, node-sized label state); the cap itself is a
    * CLUSTER-keyed rank window — keyed by rep, so it distributes, and
    * its input is the corpus joined to the node-sized label table
    * (un-hinted, per the round-7 broadcast-losers lesson). */
  val q145_cluster_cap = QueryDef(
    "q145_cluster_cap",
    s"""WITH RECURSIVE $TokensCte,
      |t AS (SELECT DISTINCT doc_id, word FROM tokens WHERE doc_id < 100),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |          FROM t x JOIN t y ON x.word = y.word AND x.doc_id < y.doc_id
      |          GROUP BY x.doc_id, y.doc_id),
      |pairs AS (SELECT a, b FROM inter
      |          JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |          WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8),
      |edges AS (SELECT a AS src, b AS dst FROM pairs
      |          UNION SELECT b, a FROM pairs),
      |reach(id, r) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
      |comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
      |lab AS (SELECT d.doc_id, COALESCE(comp.rep, d.doc_id) AS cluster_rep,
      |          d.n_chars
      |        FROM documents d LEFT JOIN comp ON comp.id = d.doc_id
      |        WHERE d.doc_id < 100),
      |rk AS (SELECT doc_id, cluster_rep,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY cluster_rep
      |           ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
      |       FROM lab)
      |SELECT doc_id, cluster_rep, rk FROM rk WHERE rk <= 2
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pairs = exactJaccardPairs(
      tokens(s, d).where(col("doc_id") < 100)
        .select("doc_id", "word").distinct(),
      0.8).select("a", "b")
    val labels = connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("rep"))
    val w = Window.partitionBy("cluster_rep")
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, d).where(col("doc_id") < 100)
      .select("doc_id", "n_chars")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep"), col("doc_id")).as("cluster_rep"), col("n_chars"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 2)
      .select("doc_id", "cluster_rep", "rk")
      .orderBy("doc_id")
  }

  /** q146: Zipf's-law fit — the log-log least-squares slope of
    * frequency vs rank over the top-100 words, plus intercept and R².
    * Natural-language text sits near slope −1 with high R²; a corpus
    * that drifts (machine-generated spam, tables, code) bends the
    * curve — this is the one-number "does it look like language"
    * screen run next to q28's language ID and q113's char entropy.
    *
    * Scale posture: the word-frequency aggregate is the only corpus-
    * sized work; the top-100 is TakeOrdered (no global sort), and the
    * rank window + regression run on a 100-row frame. The regression
    * itself uses the engines' native `regr_slope`/`regr_intercept`/
    * `regr_r2` moment aggregates (q95's family) over ln(freq), ln(rank). */
  val q146_zipf = QueryDef(
    "q146_zipf",
    s"""WITH $TokensCte,
      |f AS (SELECT word, COUNT(*) AS c FROM tokens GROUP BY word),
      |top AS (SELECT word, c FROM f ORDER BY c DESC, word LIMIT 100),
      |r AS (SELECT CAST(c AS DOUBLE) AS c,
      |        CAST(ROW_NUMBER() OVER (ORDER BY c DESC, word) AS DOUBLE) AS rk
      |      FROM top)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  ROUND(regr_slope(ln(c), ln(rk)), 4) AS slope,
      |  ROUND(regr_intercept(ln(c), ln(rk)), 4) AS intercept,
      |  ROUND(regr_r2(ln(c), ln(rk)), 4) AS r2
      |FROM r""".stripMargin) { (s, d) =>
    val top = tokens(s, d)
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(100)
    val r = top
      .withColumn("rk",
        row_number().over(Window.orderBy(col("c").desc, col("word")))
          .cast("double"))
      .select(log(col("c").cast("double")).as("lc"), log(col("rk")).as("lr"))
    r.agg(count(lit(1)).as("n"),
      round(regr_slope(col("lc"), col("lr")), 4).as("slope"),
      round(regr_intercept(col("lc"), col("lr")), 4).as("intercept"),
      round(regr_r2(col("lc"), col("lr")), 4).as("r2"))
  }

  /** q148: word burstiness — the variance-to-mean ratio (dispersion
    * index) of per-document counts for the top-20 corpus words,
    * counting the zero-documents. Function words disperse ≈ Poisson
    * (VMR ≈ 1); content words are bursty (VMR ≫ 1) — the signal
    * behind stopword-list induction and per-word df weighting, and a
    * template-flood tell (boilerplate words go bursty corpus-wide).
    * The zeros never materialize: with S = Σ counts, Q = Σ counts²
    * over the documents that HAVE the word and N the corpus size,
    * VMR = (N·Q − S²) / (N·S) — exact integers until one division.
    *
    * Scale posture: one (word, doc)-keyed count, one word-keyed moment
    * fold (vocab-sized input), top-20 via TakeOrdered, and the corpus
    * size attaches as a 1-row broadcast. */
  val q148_burstiness = QueryDef(
    "q148_burstiness",
    s"""WITH $TokensCte,
      |wc AS (SELECT word, doc_id, COUNT(*) AS c FROM tokens
      |       GROUP BY word, doc_id),
      |g AS (SELECT word, SUM(c) AS s, SUM(c * c) AS q, COUNT(*) AS df
      |      FROM wc GROUP BY word),
      |nd AS (SELECT COUNT(*) AS n FROM documents),
      |top AS (SELECT * FROM g ORDER BY s DESC, word LIMIT 20)
      |SELECT word, CAST(s AS BIGINT) AS freq, CAST(df AS BIGINT) AS df,
      |  ROUND(CAST(n * q - s * s AS DOUBLE) / (n * s), 4) AS vmr
      |FROM top CROSS JOIN nd ORDER BY word""".stripMargin) { (s, d) =>
    val g = tokens(s, d)
      .groupBy("word", "doc_id").agg(count(lit(1)).as("c"))
      .groupBy("word").agg(
        sum("c").as("s"),
        sum(col("c") * col("c")).as("q"),
        count(lit(1)).as("df"))
    val top = g.orderBy(col("s").desc, col("word")).limit(20)
    val nd = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    top.crossJoin(broadcast(nd))
      .select(col("word"), col("s").as("freq"), col("df"),
        round((col("n") * col("q") - col("s") * col("s")).cast("double") /
          (col("n") * col("s")), 4).as("vmr"))
      .orderBy("word")
  }

  /** q151: vocabulary fuzzy-match — Jaro-Winkler similar word pairs
    * over the DISTINCT vocabulary (jw ≥ 0.85), the lexicon-dedup /
    * typo-clustering primitive behind spelling normalization and OCR
    * cleanup. The similarity itself is [[graft.expressions
    * .VectorExpressions.jaroWinkler]] — a native codegen
    * [[org.apache.spark.sql.graftvec.JaroWinkler]] expression with
    * DuckDB-parity semantics (the oracle calls DuckDB's own
    * `jaro_winkler_similarity`), so the hot comparison never boxes:
    * Spark ships `levenshtein` but no Jaro family, and a Scala UDF
    * here would pay two boxed strings per candidate pair.
    *
    * Scale posture: pairs form over the DISTINCT VOCAB (sub-linear in
    * the corpus by Heaps' law), never over documents; the self-join
    * is conditioned (w1 < w2). For corpus-scale lexicons where even
    * vocab² is too big, the q92/q104 deletion-neighborhood blocking
    * generates candidates and this expression becomes the verifier —
    * Jaro's match window means first-letter blocking is NOT lossless
    * (a transposed prefix can still clear 0.85), so the honest exact
    * contract is the bounded all-pairs this query declares. */
  val q151_jw_vocab = QueryDef(
    "q151_jw_vocab",
    // The 0.70 threshold compares the ROUNDED similarity so the pair
    // set is engine-portable (a raw-double compare at the boundary
    // could disagree in the last ulp); the fixture vocabulary's
    // nearest values bracket it comfortably (0.7222 above, 0.6889
    // below).
    s"""WITH $TokensCte,
      |v AS (SELECT DISTINCT word FROM tokens),
      |p AS (SELECT a.word AS w1, b.word AS w2,
      |        ROUND(jaro_winkler_similarity(a.word, b.word), 4) AS jw
      |      FROM v a JOIN v b ON a.word < b.word)
      |SELECT w1, w2, jw
      |FROM p WHERE jw >= 0.7 ORDER BY w1, w2""".stripMargin) { (s, d) =>
    val v = tokens(s, d).select("word").distinct()
    v.select(col("word").as("w1"))
      .join(v.select(col("word").as("w2")), col("w1") < col("w2"))
      .withColumn("jw",
        round(VectorExpressions.jaroWinkler(col("w1"), col("w2")), 4))
      .where(col("jw") >= 0.7)
      .orderBy("w1", "w2")
  }

  val all: Seq[QueryDef] = Seq(
    q26_neardup_jaccard, q27_tfidf, q28_lang_id, q29_quality_score,
    q30_fingerprint, q31_token_count, q32_minhash_sig, q33_simhash,
    q34_ngram_jaccard, q37_minhash_lsh_pairs, q48_dedup_clusters,
    q49_stratified_sample, q50_simhash_neardup, q54_repetition_filter,
    q55_boilerplate_ngrams, q56_shard_pack, q57_lm_xent,
    q58_dedup_survivors, q59_decontam, q60_bm25, q61_length_outliers,
    q65_incremental_dedup, q66_first_positions, q68_term_vectors,
    q71_dedup_corpus, q72_dedup_corpus_lsh, q79_corpus_shuffle,
    q80_weighted_mix, q81_pii_scrub, q82_url_extract, q83_dup_spans,
    q84_span_cut, q93_decontam_bloom, q94_token_pack, q97_cms_heavy_hitters,
    q99_table_checksum, q100_setsim_join, q102_chunk_overlap,
    q103_kl_divergence, q109_winnow, q110_bpe_pairs, q113_char_entropy,
    q114_contain_join, q119_pmi_collocations, q120_vocab_coverage,
    q121_mad_outliers, q122_neardup_matrix, q126_threshold_curve,
    q127_cluster_sizes, q132_leakage_split, q133_psi_drift,
    q134_rank_fusion, q135_quantile_norm, q136_padding_waste,
    q137_weighted_sample, q138_kappa, q140_mixture_alloc,
    q141_curriculum, q144_gini, q145_cluster_cap, q146_zipf,
    q148_burstiness, q151_jw_vocab)
}
