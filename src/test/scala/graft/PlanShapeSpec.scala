package graft

import graft.operators.Relational

/** Plan-shape assertions (SURVEY.md §4.2): the Catalyst behaviors the
  * 100 TB posture depends on must actually appear in the physical plan —
  * verify, don't re-implement. */
class PlanShapeSpec extends SparkSpec {

  private def plan(q: QueryDef): String = {
    val df = q.build(spark, sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("Q13 star join broadcasts the nation dim") {
    assert(plan(Relational.q13_join4).contains("BroadcastHashJoin"))
  }

  test("runtime bloom filter injected on a selective shuffle join") {
    // At 100 TB the big-big join's scan is the cost: with a selective
    // filter on one side, Catalyst injects a bloom filter built from the
    // filtered side into the other side's scan (runtime row pruning).
    // Thresholds are sized for real scans — relax them to demonstrate
    // the mechanism at sf0.001, and force the join out of broadcast.
    import org.apache.spark.sql.functions.col
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.lineitem(spark, sf0001)
      val ord = Tables.orders(spark, sf0001).where(col("o_totalprice") > 100000)
      val p = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"), s"no bloom filter in:\n${p.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Q9 pushes the shipdate filter into the parquet scan") {
    val p = plan(Relational.q09_pricing_summary)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("Q9 prunes columns: scan reads only the needed lineitem columns") {
    val p = plan(Relational.q09_pricing_summary)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_orderkey"), s"unpruned scan: $readSchema")
  }

  test("Q4 top-k compiles to TakeOrderedAndProject (no global sort)") {
    assert(plan(Relational.q04_topk_words).contains("TakeOrderedAndProject"))
  }

  test("Q1 aggregation is partial+final (map-side combine)") {
    val df = Relational.q01_wordcount.build(spark, sf0001)
    df.collect() // materialize so AQE finalizes stages (codegen is per-stage)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("HashAggregate"))
    assert(p.contains("codegen id"), "word-count pipeline fell out of codegen")
  }

  test("native poly_hash stays inside whole-stage codegen (q30 fingerprint scan)") {
    import graft.operators.TextPipeline
    val q30 = TextPipeline.q30_fingerprint.build(spark, sf0001)
    q30.collect()
    val p = q30.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("poly_hash"), "poly_hash missing from the plan")
    assert(p.contains("codegen id"), "fingerprint scan fell out of codegen")
  }

  test("Q20 top-3-per-priority is a bounded hash aggregate — no window, " +
    "no per-group sort (r11 TopKRows plan)") {
    // The old plan pinned WindowGroupLimit (the best WINDOW plan Spark
    // has); the r11 plan removes the window entirely — a partial+final
    // hash agg over the TopKRows UDAF ships ≤3 pairs per group per map
    // partition, so no orders-sized partition ever lands in one task.
    import org.apache.spark.sql.functions.{col, round}
    val p = plan(Relational.q20_rank_window)
    assert(!p.contains("Window"), "q20 regressed to a window plan")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "q20's top-k should be an aggregate")
    // and it still produces the window's exact rows (the oracle pins
    // values; this pins the equivalence against the in-repo window form)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val wantDf = Tables.orders(spark, sf0001)
      .withColumn("rn", org.apache.spark.sql.functions.row_number()
        .over(w).cast("long"))
      .where(col("rn") <= 3)
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"), col("rn"))
      .orderBy("o_orderpriority", "rn")
    val got = Relational.q20_rank_window.build(spark, sf0001).collect().toSeq
    assert(got == wantDf.collect().toSeq)
  }

  test("Q68 top-5-terms-per-source is a bounded hash aggregate — no " +
    "window, no per-group sort (r11 TopKRowsStr plan)") {
    // Same cure as q20: the per-source vocabulary never lands in one
    // window task; ≤5 (cnt, word) pairs per source per map partition.
    import org.apache.spark.sql.functions.{col, count, lit, row_number}
    import graft.operators.TextPipeline
    val p = plan(TextPipeline.q68_term_vectors)
    assert(!p.contains("Window"), "q68 regressed to a window plan")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "q68's top-k should be an aggregate")
    // and it still produces the window's exact rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("cnt").desc, col("word"))
    val wantDf = graft.functions.Text
      .tokens(Tables.documents(spark, sf0001), "source")
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .select("source", "word", "cnt", "rn")
      .orderBy("source", "rn")
    val got = TextPipeline.q68_term_vectors.build(spark, sf0001)
      .collect().toSeq
    assert(got == wantDf.collect().toSeq)
  }

  test("TopKRowsStr tie-break == Spark's UTF8String window order on " +
    "supplementary-plane keys (ADVICE r11)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, row_number}
    // Keys straddling the UTF-16/code-point divergence: in Java String
    // (UTF-16 code-unit) order U+E000..U+FFFF sort AFTER surrogate
    // pairs; in code-point (= UTF-8 byte = UTF8String) order they sort
    // BEFORE the supplementary planes.
    val keys = Seq("\ufffd", "\ud83d\ude00" /* U+1F600 */,
      "\ue000", "z", "\ud800\udc00" /* U+10000 */)
    val df = keys.map(k => (1L, 1.0, k)).toDF("g", "v", "key")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v").desc, col("key"))
    val want = df.withColumn("rn", row_number().over(w))
      .orderBy("rn").select("key").as[String].collect().toSeq
    val agg = new graft.functions.TopKRowsStr(keys.length)
    val got = agg
      .finish(keys.foldLeft(agg.zero)((b, k) => agg.reduce(b, (1.0, k))))
      .map(_._2)
    assert(got == want)
    // the divergence is real: naive Java-String sorting differs here
    assert(keys.sorted != want)
  }

  test("Q18 EXISTS/NOT EXISTS become semi/anti joins, not subquery loops") {
    val p = plan(Relational.q18_semi_anti)
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("Q27 tf-idf vocabulary join degrades to a shuffle when broadcast is " +
    "off (no forced broadcast on the corpus-growing df table)") {
    // Vocabulary grows with the corpus (Heaps' law), so q27 must not HINT
    // a broadcast of the document-frequency table: with the threshold
    // forced off the word join must compile to a shuffled join instead of
    // OOMing at scale. Only the 1-row corpus count N may broadcast (its
    // hint is cardinality-bounded by construction).
    import graft.operators.TextPipeline
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec, BroadcastHashJoinExec}
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
      .map { case (k, v) =>
        val old = spark.conf.get(k); spark.conf.set(k, v); k -> old
      }
    try {
      val df = TextPipeline.q27_tfidf.build(spark, sf0001)
      val exec = df.queryExecution.executedPlan
      val bhj = exec.collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.isEmpty,
        s"df join still forces a broadcast despite threshold -1:\n$exec")
      val shuffled = exec.collect {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      assert(shuffled.nonEmpty, s"no shuffled word join in plan:\n$exec")
      assert(df.count() > 0)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("Q121/Q141 per-source stat joins degrade to a shuffle when broadcast " +
    "is off (no forced broadcast on the corpus-growing source dimension)") {
    // `source` is the fixture stand-in for crawl domains — unbounded at
    // 100 TB (the q27 Heaps-law class, one notch milder). The per-source
    // median/MAD tables (q121) and the source-index table (q141) must not
    // carry broadcast hints: with the threshold forced off the joins must
    // compile shuffled instead of OOMing the driver at scale. q141's
    // 1-row count k keeps its hint (cardinality-bounded by construction),
    // so its plan may legitimately contain ONE broadcast — the nested-loop
    // cross join — but no BroadcastHashJoin on `source`.
    import graft.operators.TextPipeline
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec, BroadcastHashJoinExec}
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
      .map { case (k, v) =>
        val old = spark.conf.get(k); spark.conf.set(k, v); k -> old
      }
    try {
      Seq(TextPipeline.q121_mad_outliers, TextPipeline.q141_curriculum)
        .foreach { qd =>
          val df = qd.build(spark, sf0001)
          val exec = df.queryExecution.executedPlan
          val bhj = exec.collect { case j: BroadcastHashJoinExec => j }
          assert(bhj.isEmpty,
            s"${qd.name}: source join still forces a broadcast despite " +
              s"threshold -1:\n$exec")
          val shuffled = exec.collect {
            case j: SortMergeJoinExec => j
            case j: ShuffledHashJoinExec => j
          }
          assert(shuffled.nonEmpty,
            s"${qd.name}: no shuffled source join in plan:\n$exec")
          assert(df.count() > 0)
        }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("PlanDump.canonical: one query dumped twice in one JVM, other " +
    "queries built in between, gives equal text") {
    // q58: lambda variables and a checkpoint RDD; q25: TopK identity
    // hashes; q147: the order of its Expand's two distinct groups
    val names = Seq("q58_dedup_survivors", "q25_cosine_topk", "q147_stickiness")
    def raw(n: String): String = SparkEntry.queries(n)(spark, sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val first = names.map(raw)
    Seq("q62_funnel", "q71_dedup_corpus", "q53_lsh_neardup")
      .foreach(n => SparkEntry.queries(n)(spark, sf0001).queryExecution.executedPlan)
    val second = names.map(raw)
    names.indices.foreach { i =>
      assert(first(i) != second(i), s"${names(i)}: raw dumps already equal")
      assert(PlanDump.canonical(first(i)) == PlanDump.canonical(second(i)),
        s"${names(i)}: canonical dumps differ")
    }
    assert(PlanDump.formatted(spark, sf0001, names.head) ==
      PlanDump.canonical(first.head).trim)
    // q147 prints either group order, by the expression ids handed out
    // before it: more builds canonicalize alike, whichever orders occur
    val q147 = Seq.fill(12)(raw("q147_stickiness")) :+ first(2)
    assert(q147.map(PlanDump.canonical).distinct.size == 1,
      "q147: canonical dumps differ")
    // both orders, as q147 prints them, whatever this JVM happens to build
    def expand(groups: String, cols: String, gidCase: Int, gidUser: Int) =
      s"""(9) Expand [codegen id : 2]
         |Input [3]: [user_id#2L, aday#5, day#4]
         |Arguments: $groups, [$cols]
         |
         |(13) HashAggregate [codegen id : 3]
         |Input [4]: [$cols]
         |Functions [2]: [partial_count(CASE WHEN (aday = day) THEN user_id END#7L) FILTER (WHERE (gid#8 = $gidCase)), partial_count(user_id#6L) FILTER (WHERE (gid#8 = $gidUser))]
         |""".stripMargin
    val caseCol = "CASE WHEN (aday = day) THEN user_id END#7L"
    val caseArg = "CASE WHEN (aday#5 = day#4) THEN user_id#2L END"
    val userFirst = expand(s"[[day#4, user_id#2L, null, 1], [day#4, null, $caseArg, 2]]",
      s"day#4, user_id#6L, $caseCol, gid#8", 2, 1)
    val caseFirst = expand(s"[[day#4, $caseArg, null, 1], [day#4, null, user_id#2L, 2]]",
      s"day#4, $caseCol, user_id#6L, gid#8", 1, 2)
    assert(PlanDump.canonical(userFirst) == PlanDump.canonical(caseFirst),
      s"Expand group orders canonicalize differently:\n" +
        s"${PlanDump.canonical(userFirst)}\n${PlanDump.canonical(caseFirst)}")
  }
}
