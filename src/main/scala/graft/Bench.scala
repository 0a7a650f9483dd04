package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): times every registered
  * query on SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Protocol (BASELINE.md "VARIANCE AND ADJUDICATION"): one untimed warmup
  * pass over the whole suite (JIT + codegen compile + parquet footer
  * cache), then 5 timed passes with the query order ROTATED on every pass
  * (pass k starts k/passes of the way through the alphabetical list), and
  * the per-query statistic is the MIN across passes. Rationale — this VM
  * is co-tenant and round 3 produced a 7.4x false alarm when a load burst
  * hit the same alphabetical window of queries in all three sequential
  * passes and the median kept the poisoned samples. Rotation decorrelates
  * a load window from any particular query; min measures what Bench is
  * for — the cost of the PLAN, not the availability of the machine.
  * `/proc/loadavg` is snapshotted before every pass into the JSON so a
  * judge can adjudicate contention from the artifact alone.
  *
  * Each query is materialized through the `noop` sink — unlike `count()`,
  * this executes the full plan with all output columns (count() would let
  * Catalyst prune the projection and under-report the real work).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "5").toInt
    val spark = Harness.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // optional args = query-name filter (the "single-query Bench pass"
    // of BASELINE.md's adjudication rule)
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      System.err.println(
        s"[bench] WARNING: unknown query name(s), skipping: ${unknown.toSeq.sorted.mkString(", ")}")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }

    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "" }

    // A crashed query returns NaN, never a timing: a near-zero elapsed
    // for a query that did no work would silently "improve" the suite
    // total against the frozen BASELINE.md numbers.
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Double.NaN
      }
    }

    queries.foreach { case (n, f) => runOne(n, f) } // warmup pass, untimed
    val loads = collection.mutable.ArrayBuffer.empty[String]
    val samples = (0 until passes).map { k =>
      loads += loadavg()
      val rotated = { // pass k starts k/passes of the way through the list
        val off = (k.toLong * queries.size / passes).toInt
        queries.drop(off) ++ queries.take(off)
      }
      rotated.map { case (n, f) => n -> runOne(n, f) }.toMap
    }
    loads += loadavg() // post-suite snapshot
    val best = queries.flatMap { case (n, _) =>
      val xs = samples.map(_(n)).filterNot(_.isNaN)
      if (xs.isEmpty) None else Some(n -> xs.min)
    }
    val failed = queries.map(_._1).filter(n => samples.exists(_(n).isNaN))

    val qs = best.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ls = loads.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = best.map(_._2).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","stat":"min-of-$passes%d-rotated-passes","loadavg":$ls,"queries":$qs,"failed":$fs,"sf":"$sfDir"}""")
    // Compact twin, printed LAST (VERDICT r8 #6): the driver keeps only a
    // ~2000-char tail of stdout and parses the first JSON line it finds
    // there — the 157-query canonical line above is ~4.5 KB, so by round 4
    // its head fell out of the window and the driver recorded parsed:null.
    // Same schema the driver parsed in rounds 2–3 (metric/value/unit/
    // queries/failed/sf); query keys shortened to their unique qNN prefix
    // and values to centisecond precision so the whole line fits the tail
    // with room for sbt's trailing "[success]" line. The canonical
    // full-name line above stays the committed-artifact format
    // (tools/*.sh select it by its "stat" field).
    val qsShort = best.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + f"\":$v%.2f"
    }.mkString("{", ",", "}")
    val fsShort = failed.map(n => "\"" + n.takeWhile(_ != '_') + "\"")
      .mkString("[", ",", "]")
    val sfBase = new java.io.File(sfDir).getName
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qsShort,"failed":$fsShort,"sf":"$sfBase"}""")
    spark.stop()
  }
}
