package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter (dev use)
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty)
      System.err.println(
        s"[verify] WARNING: unknown query name(s), skipping: ${unknown.toSeq.sorted.mkString(", ")}")
    // only stop what we start — embedding callers (tests) keep theirs
    val preexisting = SparkSession.getDefaultSession.isDefined
    val spark = Harness.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_QUERY_TIMEOUT_SEC > 0 arms a per-query watchdog: the
    // write runs under a per-query job group and a timed-out query's
    // jobs are CANCELLED (interruptOnCancel) so one pathological plan
    // cannot wedge a whole-registry run at a big derived SF — the
    // skipped name is logged and the sweep continues. 0 (default,
    // the driver contract) = no watchdog, identical behavior to before.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "0").toLong
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val failedNames = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // contract: result lands at outDir/<name>.parquet (a parquet
      // directory with that exact name — readable by pyarrow/duckdb
      // whether the driver treats it as a path or a glob root)
      val t0 = System.nanoTime()
      def run(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      try {
        if (timeoutSec <= 0) run()
        else {
          // setJobGroup is THREAD-LOCAL (SparkContext local properties):
          // it must be set inside the worker future, not here — set from
          // the main thread it never attaches to the future's jobs and
          // cancelJobGroup cancels nothing (found when a "skipped" sf10
          // query quietly ran to completion in the background).
          val worker = Future {
            spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
            try run() finally spark.sparkContext.clearJobGroup()
          }
          try Await.result(worker, timeoutSec.seconds)
          catch { case _: TimeoutException =>
            // AndFutureJobs (Spark 3.5+): plain cancelJobGroup only kills
            // jobs active at that instant — a query stalled driver-side or
            // BETWEEN jobs (builders run several: localCheckpoint, head,
            // count) would keep running and re-create the output after the
            // cleanup below, leaving a stale result for a query reported
            // skipped (ADVICE r8). The group stays poisoned, so any job
            // the zombie future submits later dies on arrival.
            spark.sparkContext.cancelJobGroupAndFutureJobs(name)
            Thread.sleep(2000) // let cancellation land before cleanup
            // a partial write would oracle-compare as a false DIFF:
            // remove it so the timed-out query reads as absent, not wrong
            org.apache.commons.io.FileUtils.deleteQuietly(
              new java.io.File(s"$outDir/$name.parquet"))
            // belt-and-braces for the driver-side-stall case (no Spark job
            // to cancel): when the zombie future eventually terminates,
            // delete whatever it wrote — runs at most once, after cleanup.
            worker.onComplete { _ =>
              org.apache.commons.io.FileUtils.deleteQuietly(
                new java.io.File(s"$outDir/$name.parquet"))
            }
            throw new RuntimeException(s"timed out after ${timeoutSec}s (skipped)")
          }
        }
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        failedNames += name // sweep-final re-delete: failed ⇒ output absent
        System.err.println(f"[verify] $name failed after ${(System.nanoTime() - t0) / 1e9}%.1fs: ${e.getMessage}")
      }
    }
    // End-of-sweep re-delete (ADVICE r8): a timed-out query's zombie
    // future may have re-materialized its output while later queries ran;
    // sweep-final deletion guarantees every skipped name reads as ABSENT
    // to the oracle, never as a stale/partial DIFF.
    failedNames.foreach { n =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$outDir/$n.parquet"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Key the oracle map by BOTH the bare query name and the result-dir
    // basename ('<name>.parquet'): round 1 showed the driver keys its
    // correctness records by directory name and looks the oracle up by
    // that key, so bare-only keys made every query record err=no_oracle.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (!preexisting) {
      spark.stop()
      // Hard-exit (VERDICT r9 #7): a finished Verify JVM could hang on
      // shutdown AFTER the final artifact write (non-daemon threads left
      // by timed-out query futures / state-store maintenance), turning
      // unattended sweeps into "kill it and proceed" babysitting. Every
      // artifact is on disk and the session is stopped — exiting is the
      // correct unconditional last step. (Skipped when the caller owns
      // the session: a preexisting-session embedder keeps its JVM.)
      // Status reflects the sweep (ADVICE r10): non-zero when any query
      // failed or timed out, so orchestrators need not parse stderr.
      // The driver's correctness gate reads the parquet outputs +
      // oracle_sql.json regardless of the code, so this only ADDS
      // signal; a clean sweep still exits 0.
      System.exit(if (failedNames.nonEmpty) 1 else 0)
    }
  }
}
