package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Advanced, RangeStitch, TextPipeline}

/** Dense-vs-chunked parity harness for the routed events-window family
  * (VERDICT r10 #3): the registry's auto-routing picks the DENSE plan on
  * the uniform fixtures, so the chunked (union-pseudo-row / boundary-
  * stitch) forms would never cross a REAL executor boundary in a
  * registry sweep. This main runs BOTH forms of all nine routed
  * operators on the given fixture and asserts row-for-row equality —
  * point it at `local-cluster[2,8,2048]` (SPARK_GRAFT_MASTER) to prove
  * the stitch survives real serialization + network shuffle, not just
  * one local[n] heap.
  *
  * Late-r11 additions: the three document-side RangeStitch pairs
  * (per-source length rank, per-lang rank, per-lang prefix sum) —
  * same rationale, the ranged arms only run above the skew threshold.
  *
  * Usage: ChunkedParity <sfDir> [operator...]  → one OK/DIFF line per
  * pair + a final JSON line; exits non-zero on any DIFF.
  */
object ChunkedParity {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only = args.drop(1).toSet
    val spark = Harness.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val ev = Tables.events(spark, sfDir)
    val delta = 3L * 24 * 3600 * 1000000
    val pairs: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("sessionize", Advanced.sessionize(ev), Advanced.sessionizeChunked(ev)),
      // rowsPerChunk=64 forces many stitched count-chunks per user at
      // any fixture size (the late-r11 single-day-flood escalation tier)
      ("sessionizeCount", Advanced.sessionize(ev),
        Advanced.sessionizeCountChunked(ev, rowsPerChunk = 64L)),
      ("funnelDepth", Advanced.funnelDepth(ev),
        Advanced.funnelDepthChunked(ev)),
      ("funnelDepthCount", Advanced.funnelDepth(ev),
        Advanced.funnelDepthCountChunked(ev, rowsPerChunk = 64L)),
      ("funnelDepths", Advanced.funnelDepths(ev, delta),
        Advanced.funnelDepthsChunked(ev, delta)),
      ("funnelDepthsCount", Advanced.funnelDepths(ev, delta),
        Advanced.funnelDepthsCountChunked(ev, delta, rowsPerChunk = 64L)),
      ("transitions", Advanced.transitions(ev),
        Advanced.transitionsChunked(ev)),
      ("transitionsCount", Advanced.transitions(ev),
        Advanced.transitionsCountChunked(ev, rowsPerChunk = 64L)),
      ("ewma", Advanced.ewma(ev), Advanced.ewmaChunked(ev)),
      ("ewmaCount", Advanced.ewma(ev),
        Advanced.ewmaCountChunked(ev, rowsPerChunk = 64L)),
      ("rollingMedian", Advanced.rollingMedian(ev),
        Advanced.rollingMedianChunked(ev)),
      ("rollingMedianCount", Advanced.rollingMedian(ev),
        Advanced.rollingMedianCountChunked(ev, rowsPerChunk = 64L)),
      ("twap", Advanced.twap(ev), Advanced.twapChunked(ev)),
      ("twapCount", Advanced.twap(ev),
        Advanced.twapCountChunked(ev, rowsPerChunk = 64L)),
      ("seqPattern", Advanced.seqPattern(ev), Advanced.seqPatternChunked(ev)),
      ("seqPatternCount", Advanced.seqPattern(ev),
        Advanced.seqPatternCountChunked(ev, rowsPerChunk = 64L)),
      ("scd2", Advanced.scd2(ev), Advanced.scd2Chunked(ev)),
      ("scd2Count", Advanced.scd2(ev),
        Advanced.scd2CountChunked(ev, rowsPerChunk = 64L))) ++ {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      val ordered = Seq("doc_id", "source", "lang", "n_chars", "rk")
      val cumCols = Seq("doc_id", "source", "lang", "n_chars", "cum")
      Seq(
        ("sourceRank",
          TextPipeline.sourceLengthRanks(docs).select(ordered.map(col): _*),
          TextPipeline.sourceLengthRanksRange(docs).select(ordered.map(col): _*)),
        ("langRank",
          docs.withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy("n_chars", "doc_id"))
            .cast("long")).select(ordered.map(col): _*),
          RangeStitch.withRangeRank(docs, "lang", Seq("n_chars", "doc_id"))
            .select(ordered.map(col): _*)),
        ("langPrefixSum",
          docs.withColumn("cum", sum("n_chars").over(
            Window.partitionBy("lang").orderBy("doc_id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .select(cumCols.map(col): _*),
          RangeStitch.withRangePrefixSum(docs, "lang", Seq("doc_id"),
            "n_chars", "cum").select(cumCols.map(col): _*)))
    }

    var bad = 0
    val results = pairs
      .filter { case (n, _, _) => only.isEmpty || only(n) }
      .map { case (name, dense, chunked) =>
        // exceptAll both ways = exact multiset equality, computed
        // DISTRIBUTED (no driver-side collect of data-sized results)
        val extra = chunked.exceptAll(dense).count()
        val missing = dense.exceptAll(chunked).count()
        val n = dense.count()
        val ok = extra == 0 && missing == 0
        if (!ok) bad += 1
        println(f"${if (ok) "OK  " else "DIFF"} $name%-14s rows=$n " +
          s"extra=$extra missing=$missing")
        s""""$name":{"rows":$n,"extra":$extra,"missing":$missing}"""
      }
    println(results.mkString(
      s"""{"metric":"chunked_parity","sf":"$sfDir","master":"${Harness.master}","pairs":{""",
      ",", "}}"))
    spark.stop()
    System.exit(if (bad > 0) 1 else 0)
  }
}
