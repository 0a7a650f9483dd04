package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: formatted physical plans, in two modes.
  *
  *  - `PlanDump` regenerates PLANS.md: the flagship queries, the artifact
  *    behind the scale-posture claims (pushdown, pruning, broadcasts,
  *    TakeOrdered, codegen spans).
  *  - `PlanDump <outDir> <suffix> <query...>` writes
  *    `<outDir>/<query>_<suffix>.txt` for each named registry query: the
  *    before/after plan evidence under plans/.
  *
  * Plans are built on SPARK_GRAFT_SF_DIR (default sf0.001) at `local[4]`
  * with 4 shuffle partitions, so a dump does not depend on the machine's
  * core count. AQE is off for the full static plan unless
  * SPARK_GRAFT_PLAN_AQE=1: with AQE on, checkpoint scan nodes show the
  * partitioning the bench actually sees (CheckpointMeta restores it from
  * the finalized adaptive plan; with AQE off the localCheckpoint metadata
  * is never lost, which hides a re-exchange from every static dump).
  */
object PlanDump {
  private val flagships = Seq(
    "q01_wordcount" -> "combiner pattern: partial_count before the shuffle",
    "q09_pricing_summary" -> "PushedFilters into parquet + pruned ReadSchema",
    "q13_join4" -> "star join: dims broadcast, fact never re-shuffled for them",
    "q04_topk_words" -> "TakeOrderedAndProject — top-k without a global sort",
    "q25_cosine_topk" -> "native dot_product kernel inside codegen",
    "q40_asof_join" -> "as-of via union + running last — one shuffle by key",
    "q44_sessionize" -> "measured-skew routed (sessionizeAuto; this uniform fixture takes the DENSE plan): one user_id shuffle serves window AND aggregation — the chunked skew twin is a library function with its own budget, and the probe is one memoized scan per fixture",
    "q53_lsh_neardup" -> "cosine-threshold join rewritten to a banded LSH equi-join (hot buckets thinned to their representative INSIDE the rule — the Window+Filter over the left exploded side)",
    "q76_theta_rank_join" -> "theta-COUNT as a rank join: quantile range-buckets + per-bucket running count + broadcast prefix sums — one data shuffle where the q19 nested loop compares O(|L|x|R|) pairs",
    "q77_theta_agg_join" -> "the generalized theta aggregates (COUNT/SUM/AVG): the running SUM rides the SAME per-bucket window exchange as the count — no extra data shuffle over q76",
    "q57_lm_xent" -> "un-hinted vocab join (static plan: SMJ of the compacted aggregate; AQE demotes to broadcast at test SFs) — the corpus is never re-shuffled",
    "q60_bm25" -> "scan-local BM25: per-row tf arrays, 1-row stats broadcast, TakeOrdered top-20",
    "q70_sliding_window" -> "sliding window = TimeWindowing explode (×4) + ONE partial+final hash agg",
    "q71_dedup_corpus" -> "end-to-end dedup: stage-0 exact collapse -> guarded pairs -> components -> election -> UN-hinted anti-join (AQE picks broadcast vs shuffle by size — a forced broadcast of losers is O(corpus) at real dup rates)",
    "q83_dup_spans" -> "exact-substring span detection: native word_ngrams shingles, cross-doc flag map-side-combined, gaps-and-islands merge riding ONE doc_id exchange",
    "q84_span_cut" -> "span cutting: covered positions exploded + partial-agg deduplicated, un-hinted left join back, indexed-lambda filter rewrites each doc scan-locally",
    "q54_repetition_filter" -> "one-byte-scan native bigram_hash_stats kernel — the whole per-doc computation is a single codegen projection over the scan; the only exchanges serve the output sort",
    "q55_boilerplate_ngrams" -> "native word_ngrams kernel: Generate directly over the scan (no words-array projection), hot shingles collapsed by the partial hash agg",
    "q93_decontam_bloom" -> "bloom-prefiltered decontamination: the mightContain filter sits INSIDE the scan stage of the candidate branch (before its dedup exchange); the verify join moves candidates only",
    "q94_token_pack" -> "global cumsum WITHOUT a global window: per-shard window prefixes in parallel, the single-partition window only over the per-shard TOTALS (#shards rows), offsets joined back",
    "q96_cdc_compact" -> "CDC compaction: latest-wins via ONE k-keyed window + anti join — versions never iterate; at test SF the anti join broadcasts, at scale AQE re-keys both sides",
    "q98_interval_join" -> "interval join bucketized: intervals fan out to covered day keys scan-locally, the match is a plain (user, day) equi-join + residual BETWEEN — no per-user cross product",
    "q102_chunk_overlap" -> "token-window chunking: tokenize -> sequence -> posexplode -> slice, ONE codegen generate stage over the scan — zero data shuffles, the only exchange is the output sort",
    "q103_kl_divergence" -> "KL domain shift as a LINEAR re-key chain: one corpus-sized (source, word) agg, word-window, per-source fold, corpus total via a #sources-row window — no branch re-reads the aggregate, no exchange-reuse bet",
    "q104_fuzzy_join_lev2" -> "depth-2 SymSpell blocking (r12: the key set is one native deletion_hashes prefix-hash pass — no variant strings materialized): the candidate join/distinct move 16-byte (a, b) id pairs only; names re-attach after the fan-out stage for the levenshtein verify",
    "q117_triangles" -> "degree-oriented triangle closing (r12: per-order collect_set + posexplode pair fan-out replaces the distinct+self-join edge build; adjacency sorted once and closed with the native two-pointer sorted_intersect — array_intersect's per-row hash set was the measured 49.5s stage): edge-sized joins attach O(sqrt m) adjacency arrays — the quadratic wedge set never materializes; explode emits one row per ACTUAL triangle",
    "q119_pmi_collocations" -> "PMI marginals as WINDOW sums over the one compacted pair aggregate — the 3-branch re-agg join form re-ran the corpus-sized pair agg per branch (8 shuffles measured); this chain runs 2, everything post-agg vocab²-sized",
    "q122_neardup_matrix" -> "source provenance RIDES the pair pipeline keys (functionally-dependent groupBy columns) — no corpus-sized doc→source dimension join after pair generation, the r6 broadcast-losers lesson applied to metadata attachment",
    "q124_skyline" -> "Pareto dominance via TWO range frames sharing ONE sort: desc integer RANGE to -1 = strictly-better prices, (currentRow,currentRow) = the tie group — the O(n²) NOT EXISTS self-join the oracle runs never appears in the plan",
    "q147_stickiness" -> "DAU/WAU via ONE Expand-based multi-distinct aggregate over the exploded cover-day table — no DAU⋈WAU join, no range self-join of event-sized relations; Expand doubles rows, the join formulation re-shuffled the activity table twice more",
    "q149_auc" -> "ROC-AUC as a rank-sum on the SCORE HISTOGRAM: one value-keyed agg touches the corpus, the cumulative-negatives window runs on histogram-sized data — the global row-rank sort and the pos×neg pair join both never appear",
    "q151_jw_vocab" -> "native jaro_winkler codegen kernel inside the conditioned vocab self-join (BroadcastNestedLoopJoin over the Heaps-law vocab, never documents); a UDF here would box two strings per pair",
    "q154_seq_pattern" -> "measured-skew routed (r11; this uniform fixture takes the DENSE whole-string plan: one user exchange builds each code string, regexp_count is scan-local, final agg ≤2 keys). The chunked skew twin (day code strings + segment-carry stitch) is seqPatternChunked with its own 4-exchange budget",
    "q158_sessionize_skewsafe" -> "q44's output with the unsplittable hot-user window partition chunked by event-time day: the ONLY event-sized exchange is the (user, chunk) window; boundary/offset tables are map-side-combined user-DAY rows whose joins broadcast; partial sessions pre-aggregate on the same exchange so the final (user, sid) merge moves session-level rows only",
    "q107_transitions" -> "measured-skew routed (r11; this uniform fixture takes the DENSE plan: one per-user lag window, then everything after the (src, dst) agg moves |event types|² rows). The chunked skew twin (union-boundary lag stitch, zero Join nodes) is transitionsChunked with its own 6-exchange budget",
    "q115_rolling_median" -> "measured-skew routed (r11; this uniform fixture takes the DENSE plan: one per-user frame window, ≤7-element frames scan-local). The chunked skew twin (within-day frame + incoming-tail carry fold) is rollingMedianChunked with its own 4-exchange budget",
    "q100_setsim_join" -> "r11 checkpointed PPJoin: the doc-set table (collect_set dedup, one doc-keyed exchange) materializes at a localCheckpoint cut consumed by the freq/prefix stream AND both verify sides; verification is a scan-local native sorted_intersect_count over the joined candidate pair (r12 — the sets are sort_array'd, so |A∩B| is a two-pointer merge, no per-pair hash set) — post-checkpoint the plan is freq agg + candidate sh-join + orderBy")

  /** `name`'s formatted physical plan, in [[canonical]] form. */
  def formatted(spark: SparkSession, sfDir: String, name: String): String =
    canonical(SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("formatted")).trim)

  /** A plan text with everything that depends on the JVM run rather than
    * on the plan taken out, so dumps of identical code compare equal:
    * expression ids (`#N`), higher-order-function lambda variables
    * (`x_N`, `y_N`) and RDD ids (`RDD[N]`) are renumbered by first
    * appearance; identity hashes (`TopKPairs@1b2c3d`,
    * `$Lambda$2660/0x...@2688b2be`), `plan_id`s and the source line of
    * RDD call sites (`localCheckpoint at Advanced.scala:2715`) are
    * dropped; the distinct groups of an `Expand` are put in one order
    * ([[sortDistinctGroups]]). */
  def canonical(text: String): String = {
    val stripped = sortDistinctGroups(text
      .replaceAll("""\$Lambda(\$\d+)?(/0x[0-9a-f]+)?""", "\\$Lambda")
      .replaceAll("""(?<=[\w$])@[0-9a-f]{1,8}\b""", "")
      .replaceAll("""\[plan_id=\d+\]""", "[plan_id]")
      .replaceAll("""(\.scala):\d+""", "$1"))
    Seq("""(#)(\d+)""".r, """(lambda [A-Za-z]+_)(\d+)""".r, """(RDD\[)(\d+)""".r)
      .foldLeft(stripped) { (t, re) =>
        val ids = scala.collection.mutable.Map.empty[String, Int]
        re.replaceAllIn(t, m => scala.util.matching.Regex.quoteReplacement(
          m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
      }
  }

  /** Spark's distinct-aggregate rewrite gives each distinct group of an
    * `Expand` a `gid` literal (read back by `(gid#N = k)` filters) and
    * orders the groups, and the columns they fill, by expression-id
    * hashes, so one query prints either order depending on what the JVM
    * built before it (q147's two distinct counts). This sorts each such
    * `Expand`'s groups by the names of the columns they fill, renumbers
    * the gids in that order and moves those columns into it wherever the
    * `Expand`'s output list is printed. */
  private def sortDistinctGroups(text: String): String =
    """(?m)^\(\d+\) Expand.*\n.*\nArguments: (.*)$""".r.findAllMatchIn(text)
      .foldLeft(text) { (t, m) =>
        val args = items(m.group(1))
        val groups = items(unwrap(args.head)).map(g => items(unwrap(g)))
        val out = items(unwrap(args.last))
        if (args.length != 2 || !out.last.startsWith("gid#") ||
            groups.exists(_.length != out.length)) t
        else {
          val varying = out.indices.init.filter(i => groups.map(_(i)).distinct.size > 1)
          def fills(g: Seq[String]) = varying.filter(g(_) != "null")
          val sorted = groups.sortBy(g =>
            fills(g).map(i => out(i).replaceAll("""#\d+\w?$""", "")).mkString(", "))
          val cols = (sorted.flatMap(fills) ++ varying).distinct.iterator
          val perm = out.indices.map(i => if (varying.contains(i)) cols.next() else i)
          val gid = sorted.map(_.last).zip(groups.map(_.last).sortBy(_.toInt)).toMap
          val newArgs = sorted.map(g => perm.init.map(g) :+ gid(g.last))
            .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
          val newOut = perm.map(out).mkString(", ")
          val gidRef = java.util.regex.Pattern.quote(out.last)
          raw"\($gidRef = (\d+)\)".r.replaceAllIn(
            t.replace(m.group(1), s"$newArgs, [$newOut]")
              .replace(out.mkString(", "), newOut),
            g => scala.util.matching.Regex.quoteReplacement(
              s"(${out.last} = ${gid.getOrElse(g.group(1), g.group(1))})"))
        }
      }

  /** The top-level `, `-separated items of a plan-text list. */
  private def items(list: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    for (i <- list.indices) list(i) match {
      case '(' | '[' => depth += 1
      case ')' | ']' => depth -= 1
      case ',' if depth == 0 => out += list.substring(from, i).trim; from = i + 1
      case _ =>
    }
    (out += list.substring(from).trim).result()
  }

  private def unwrap(s: String): String = s.stripPrefix("[").stripSuffix("]")

  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length >= 3,
      "usage: PlanDump | PlanDump <outDir> <suffix> <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val aqe = sys.env.get("SPARK_GRAFT_PLAN_AQE").contains("1")
    val spark = Harness.builder(aqe)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def formatted(name: String): String = PlanDump.formatted(spark, sfDir, name)

    if (args.nonEmpty) {
      val outDir = Paths.get(args(0))
      val suffix = args(1)
      Files.createDirectories(outDir)
      args.drop(2).foreach { n =>
        Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), formatted(n) + "\n")
        println(s"[plandump] wrote ${n}_$suffix.txt")
      }
    } else {
      val mode = if (aqe) "AQE on" else "AQE off for a full static plan"
      val out = new StringBuilder
      out ++= "# PLANS — formatted physical plans of the flagship queries\n\n"
      out ++= s"Generated by `graft.PlanDump` on $sfDir ($mode;\n"
      out ++= "regenerate after planner-visible changes: `sbt \"runMain graft.PlanDump\"`).\n"
      flagships.foreach { case (name, why) =>
        out ++= s"\n## $name — $why\n\n```\n"
        out ++= formatted(name)
        out ++= "\n```\n"
      }
      Files.writeString(Paths.get("PLANS.md"), out.toString)
      println(s"[plandump] wrote PLANS.md (${flagships.size} plans)")
    }
    spark.stop()
  }
}
