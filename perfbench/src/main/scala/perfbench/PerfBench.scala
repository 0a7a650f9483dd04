package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.{QueryDef, SparkEntry, Tables}
import graft.mrcompat.MapReduceJob
import graft.operators.{Advanced, Graph, Multimodal, Relational, Similarity, TextPipeline}
import graft.streaming.DocDedup

/** The benchmark's JVM side: one Spark session, one client thread issuing
  * work closed-loop (the next call starts when the previous returns).
  * It times the workload, dumps every output it checks, and writes
  * `report.json` into its output directory; `perfbench/run.py` checks
  * the dumped outputs and prints the result line.
  *
  * Usage: PerfBench key=value... with keys workload, seed, seconds,
  * trace (0|1), tables (parquet dir), mrIn (Lab-1 input text files),
  * kernels (parquet dir of the kernel columns) and shardTables (parquet
  * dir the check shard runs on), all three registry only, out (run output
  * dir), cpus.
  */
object PerfBench {

  sealed trait Item { def name: String }
  final case class QueryItem(q: QueryDef) extends Item { def name: String = q.name }
  final case class MrItem(name: String, mapF: MapReduceJob.MapF,
                          reduceF: MapReduceJob.ReduceF) extends Item

  val MrReduce = 10

  val MrApps: Seq[MrItem] = Seq(
    MrItem("mr_wc", MapReduceJob.wcMap, MapReduceJob.wcReduce),
    MrItem("mr_grep", MapReduceJob.grepMap("spark"), MapReduceJob.grepReduce))

  val Families: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.all, "TextPipeline" -> TextPipeline.all,
    "Similarity" -> Similarity.all, "Multimodal" -> Multimodal.all,
    "Advanced" -> Advanced.all, "Graph" -> Graph.all)
  lazy val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  /** Registry: one query per operator family — the Lab-1 word count,
    * media metadata, the skew-routed funnel, cosine top-k and a
    * checkpointed connected-components loop — plus the character-entropy
    * query whose plan carries a graftvec kernel, and the Lab-1 word count
    * and grep apps through the MapReduce veneer. Small enough that
    * per-query fixed cost (query building, planning, codegen) dominates.
    * Every pass runs them in this order: the codegen cache (100 entries)
    * holds less than a pass's generated classes, so a shuffled order made
    * the compile count of a pass, and with it the pass time, vary from
    * pass to pass and from seed to seed. The rest of the registry is
    * checked untimed, a seed-chosen shard per run. */
  lazy val RegistryItems: Seq[Item] =
    Seq("q01", "q36", "q62", "q25", "q48", "q113").map { p =>
      val hits = SparkEntry.declared.filter(_.name.startsWith(p + "_"))
      require(hits.size == 1, s"query prefix $p matches ${hits.map(_.name)}")
      QueryItem(hits.head)
    } ++ MrApps

  /** `query_ms.tail` percentile: the highest whole percentile with at
    * least ten of n samples beyond its nearest rank; p75 when there are
    * too few samples for that (docdedup's epochs) */
  def tailPct(n: Int): Int =
    (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).getOrElse(75)

  /** untimed registry passes before the timed ones: the first timed pass
    * after three was still the slowest in 9 of 10 runs, and the high
    * query samples it added made `query_ms.tail` spread most */
  val WarmPasses = 4
  /** the warm pass whose outputs are dumped and checked */
  val CheckPass = -2
  val ShardSize = 2
  val DedupEpochs = 100
  /** epochs ingested in set-up: after only the first, the timed epochs
    * jumped by ~1 s at a seed-dependent point, which moved their median */
  val WarmEpochs = 2
  /** --seconds is turned into a fixed count of registry passes and
    * docdedup epochs: these are the seconds one of each takes on a
    * 4-core box */
  val NominalPassS = 6.25
  val NominalEpochS = 6.25
  val DedupTau = 0.8
  /** Above every bucket of the corpus: the stream and batch candidate
    * relations are then identical, so survivors must match exactly
    * (the StreamingSpec parity configuration). */
  val DedupMaxBucket = 100000

  // ---------------------------------------------------------------- args

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        tables: String, mrIn: String, kernels: String, shardTables: String,
                        out: String, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("tables"), kv.getOrElse("mrIn", ""), kv.getOrElse("kernels", ""),
      kv.getOrElse("shardTables", ""), kv("out"), kv("cpus").toInt)
  }

  // ------------------------------------------------------ host readings

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** (steal ticks, total ticks) from the aggregate cpu line of /proc/stat */
  def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val xs = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
      (if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** heap in use right after the most recent collection (none is forced:
    * a forced full GC makes Spark's cleaner drop shuffle state mid-run) */
  def heapAfterGcMb(): Double = {
    val last = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case b: com.sun.management.GarbageCollectorMXBean if b.getLastGcInfo != null => b.getLastGcInfo
    }
    if (last.isEmpty) 0.0
    else last.maxBy(_.getEndTime).getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum / 1048576.0
  }

  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** nearest-rank percentile */
  def pct(xs: scala.collection.Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def dirBytes(f: File): Long =
    if (f.isFile) f.length else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum

  // ------------------------------------------------------ session, main

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongConf, "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadTable(spark: SparkSession, dir: String, t: String): DataFrame =
    if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.out).mkdirs()
    val runId = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-${System.currentTimeMillis()}"
    val run = new Run(a, new Tracer(runId))
    val report = try run.execute() finally run.stop()
    val w = new java.io.PrintWriter(s"${a.out}/report.json", "UTF-8")
    try w.println(Json(report)) finally w.close()
  }

  /** Per-pass host and JVM readings: the steadiness evidence. */
  final case class PassRecord(pass: Int, traced: Boolean, wallS: Double, loadavg: String,
                              stealFrac: Double, heapAfterGcMb: Double, gcMs: Long,
                              compiles: Long, compileMs: Double)

  final class Run(a: Args, tracer: Tracer) {
    val t0: Long = System.nanoTime()
    val spark: SparkSession = tracer.span("session")(session(a))
    val sc = spark.sparkContext
    val listener = new GroupListener
    val executions = new LastExecution
    val samples = mutable.ArrayBuffer.empty[(String, Int, Double, Boolean)] // item, pass, ms, traced
    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val passStats = mutable.ArrayBuffer.empty[(Int, Map[String, GroupStats])]
    val failures = mutable.ArrayBuffer.empty[String]
    val wrong = mutable.ArrayBuffer.empty[String]
    val scanCounts = mutable.ArrayBuffer.empty[Int]
    val spanCover = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    private var lastTicks = cpuTicks()

    def stop(): Unit = spark.stop()

    def traceOn(on: Boolean): Unit = {
      if (on && !tracer.enabled) {
        // events still queued from an untraced pass must not reach the listener
        PerfbenchBridge.drainListenerBus(sc)
        sc.addSparkListener(listener)
        spark.listenerManager.register(executions)
      }
      if (!on && tracer.enabled) {
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(executions)
      }
      tracer.enabled = on
    }

    def group(phase: String, item: String, pass: Int): Unit =
      if (tracer.enabled) sc.setJobGroup(s"$phase|$item|$pass", s"$phase $item", interruptOnCancel = false)

    def attempt(label: String)(f: => Unit): Boolean = {
      attempted += 1
      try { f; true }
      catch { case e: Throwable =>
        failures += s"$label: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] $label failed: ${e.getMessage}")
        false
      } finally sc.clearJobGroup()
    }

    def beforePass(): (Long, (Long, Double), String, Double, Double) = {
      val la = loadavg()
      val heap = heapAfterGcMb()
      val ticks = cpuTicks()
      val steal = if (ticks._2 > lastTicks._2)
        (ticks._1 - lastTicks._1).toDouble / (ticks._2 - lastTicks._2) else 0.0
      lastTicks = ticks
      (gcMs(), codegen(), la, steal, heap)
    }

    def recordPass(pass: Int, traced: Boolean, wallS: Double,
                   before: (Long, (Long, Double), String, Double, Double)): Unit = {
      val (gc0, (c0, _), la, steal, heap) = before
      // CodegenMetrics keeps no running sum: the compile time is this pass's
      // compile count times the mean of its decaying histogram, an estimate
      val (c1, meanMs) = codegen()
      passes += PassRecord(pass, traced, wallS, la, steal, heap, gcMs() - gc0, c1 - c0,
        (c1 - c0) * meanMs)
      if (traced) {
        PerfbenchBridge.drainListenerBus(sc)
        passStats += pass -> listener.groups.toMap
        listener.clear()
      }
    }

    /** Run one item; returns its wall ms, or None when it failed. `dump`
      * writes the output where run.py checks it instead of the noop sink. */
    def runItem(item: Item, tables: String, pass: Int, dump: Option[String]): Option[Double] = {
      val label = s"${item.name}@$pass"
      var wall = 0.0
      var execSpan = -1
      val ok = attempt(label) {
        val q0 = System.nanoTime()
        var childNs = 0L
        def child[T](name: String)(f: => T): T = {
          val c0 = System.nanoTime()
          try tracer.span(name)(f) finally childNs += System.nanoTime() - c0
        }
        tracer.span(s"query:${item.name}") {
          item match {
            case QueryItem(q) =>
              group("build", q.name, pass)
              val df = child("build")(q.build(spark, tables))
              group("execute", q.name, pass)
              child("execute") {
                execSpan = tracer.current
                dump match {
                  case Some(dir) =>
                    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/${q.name}.parquet")
                  case None => df.write.format("noop").mode("overwrite").save()
                }
              }
            case MrItem(name, m, r) =>
              val outDir = s"${a.out}/mr-out/$name$pass"
              group("execute", name, pass)
              child("execute")(MapReduceJob.runToDir(spark, s"${a.mrIn}/*", m, r, MrReduce, outDir))
          }
        }
        wall = ms(q0)
        if (tracer.enabled) spanCover += childNs / 1e6 / wall
      }
      if (ok && tracer.enabled && item.isInstanceOf[QueryItem]) recordPlan(execSpan)
      if (ok) Some(wall) else None
    }

    /** Planning of the execution just timed, read after the fact: its
      * analysis, optimization and planning phases become a `plan` span
      * inside its `execute` span, and its physical plan gives the scan
      * count. Nothing is planned twice. */
    def recordPlan(execSpan: Int): Unit = {
      PerfbenchBridge.drainListenerBus(sc)
      executions.last.foreach { qe =>
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty)
          tracer.recordMs("plan", execSpan, phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max)
        scanCounts += countScans(qe.executedPlan)
      }
      executions.last = None
    }

    /** file scans in a physical plan, counted in the plan adaptive
      * execution started from */
    def countScans(p: SparkPlan): Int = p.collectWithSubqueries {
      case _: FileSourceScanExec => 1
      case ad: AdaptiveSparkPlanExec => countScans(ad.inputPlan)
    }.sum

    /** Trace runs alternate untraced and traced passes in the order
      * U T T U U T T U..., so drift within the run (JIT warm-up, growing
      * state) cancels out of the tracing overhead. */
    def abba(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

    def cleanupMr(pass: Int): Unit = MrApps.foreach { m =>
      org.apache.commons.io.FileUtils.deleteQuietly(new File(s"${a.out}/mr-out/${m.name}$pass"))
    }

    def execute(): Map[String, Any] = {
      // trace runs record the set-up too: the cold-memo routing probes
      // are charged to the warm pass
      traceOn(a.trace)
      val base: Map[String, Any] =
        if (a.workload == "docdedup-epochs") runDedup() else runQueries()
      base ++ Map(
        "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
        "run_id" -> tracer.runId, "cpus" -> a.cpus,
        "attempted" -> attempted, "failures" -> failures, "wrong" -> wrong,
        "passes" -> passes.map(p => Map("pass" -> p.pass, "traced" -> p.traced,
          "wall_s" -> p.wallS, "loadavg" -> p.loadavg, "steal_frac" -> p.stealFrac,
          "heap_after_gc_mb" -> p.heapAfterGcMb, "gc_ms" -> p.gcMs,
          "codegen_compiles" -> p.compiles, "codegen_compile_ms_estimate" -> p.compileMs)))
    }

    // ------------------------------------------------ query workloads

    def runQueries(): Map[String, Any] = {
      val items = RegistryItems
      val dumpDir = s"${a.out}/results"
      val coldLoad = tracer.span("tables") {
        Tables.names.map { t => val l0 = System.nanoTime(); loadTable(spark, a.tables, t); ms(l0) }.sum
      }
      // untimed warm passes, so the timed ones start nearer JIT steady
      // state. The second-to-last dumps every output for the checks, so they
      // cover state carried over from an earlier pass (filled memos,
      // cached probes) as the timed passes see it; the last one writes to
      // the noop sink like the timed passes, so the first timed pass does
      // not pay for switching plans back from the dump.
      tracer.span("pass:warm") {
        (-WarmPasses until 0).foreach { p =>
          items.foreach(i => runItem(i, a.tables, p, if (p == CheckPass) Some(dumpDir) else None))
          if (p != CheckPass) cleanupMr(p)
        }
      }
      val warmStats = if (a.trace) { PerfbenchBridge.drainListenerBus(sc); listener.groups.toMap } else Map.empty[String, GroupStats]
      listener.clear()
      val setupS = (System.nanoTime() - t0) / 1e9

      // a fixed number of passes per --seconds, so every run does the
      // same work whatever the engine's speed
      val nPasses = math.max(if (a.trace) 4 else 1, math.round(a.seconds / NominalPassS).toInt)
      var p = 0
      while (p < nPasses) {
        val traced = a.trace && abba(p)
        val before = beforePass()
        traceOn(traced)
        val p0 = System.nanoTime()
        tracer.span(s"pass:$p") {
          items.foreach { i =>
            runItem(i, a.tables, p, None).foreach(w => samples += ((i.name, p, w, traced)))
          }
        }
        val wall = (System.nanoTime() - p0) / 1e9
        recordPass(p, traced, wall, before)
        cleanupMr(p)
        p += 1
      }
      traceOn(false)

      // untimed: the rest of the registry, one seed-chosen shard per run
      val shard: Seq[Item] = {
        val timed = items.map(_.name).toSet
        val rest = SparkEntry.declared.filterNot(q => timed(q.name)).sortBy(_.name)
        val k = (rest.size + ShardSize - 1) / ShardSize
        rest.grouped(ShardSize).toSeq(Math.floorMod(a.seed, k.toLong).toInt).map(QueryItem)
      }
      // on small tables: some oracles (e.g. the skyline self-join) take
      // minutes in DuckDB at sf0.1
      shard.foreach(i => runItem(i, a.shardTables, -1, Some(dumpDir)))
      val checked = (items ++ shard).collect { case QueryItem(q) => q }
      val oracle = checked.flatMap(q => q.oracle.map(q.name -> _)).toMap
      val w = new java.io.PrintWriter(s"${a.out}/oracle_sql.json", "UTF-8")
      try w.println(Json(oracle)) finally w.close()
      MrApps.foreach(checkMr)

      val warmLoad = if (!a.trace) 0.0 else median((0 until 3).map { _ =>
        Tables.names.map { t => val l0 = System.nanoTime(); loadTable(spark, a.tables, t); ms(l0) }.sum
      })
      val kernels = if (a.trace) Kernels.measure(spark, a.kernels)
                    else Map.empty[String, Double]

      val untraced = samples.filterNot(_._4).map(_._3)
      val untracedPass = passes.filterNot(_.traced).map(_.wallS)
      val e2e = Map(
        "setup_s" -> setupS,
        "pass_s" -> median(untracedPass),
        "query_ms.p50" -> median(untraced.toSeq),
        "query_ms.tail" -> pct(untraced.toSeq, tailPct(untraced.size)))
      val perQuery = samples.filterNot(_._4).groupBy(_._1).map { case (n, xs) =>
        n -> Map("p50_ms" -> median(xs.map(_._3).toSeq), "walls_ms" -> xs.map(_._3))
      }
      Map("e2e" -> e2e,
        "tail_pct" -> tailPct(untraced.size), "samples" -> untraced.size,
        "items" -> items.map(_.name), "checked" -> checked.map(_.name),
        "shard" -> shard.map(_.name),
        "unchecked" -> checked.filter(_.oracle.isEmpty).map(_.name),
        "per_query" -> perQuery,
        "layers" -> (if (a.trace) layerMetrics(coldLoad, warmLoad, warmStats, kernels) else Map.empty),
        "spans" -> writeSpans())
    }

    /** Lab-1 check: the check pass's mr-out files against the sequential
      * in-process oracle (the lab's mrsequential) over the same files. */
    def checkMr(m: MrItem): Unit = attempt(s"${m.name}@check") {
      val inputs = new File(a.mrIn).listFiles.filter(_.isFile).sortBy(_.getName).toSeq.map { f =>
        ("file:" + f.getAbsolutePath) -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      }
      // grep keys its output by input path
      def norm(kv: (String, String)): (String, String) = kv._1.split("/").last -> kv._2
      val expected = MapReduceJob.sequential(inputs, m.mapF, m.reduceF).map(norm).sorted
      val parts = new File(s"${a.out}/mr-out/${m.name}$CheckPass").listFiles
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
      val got = parts.map { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().map { l =>
          val i = l.indexOf(' '); (l.take(i), l.drop(i + 1))
        }.toSeq
      }
      val partsSorted = got.forall(ps => ps.map(_._1) == ps.map(_._1).sorted)
      if (parts.size != MrReduce || !partsSorted || got.flatten.map(norm).sorted != expected)
        wrong += m.name
    }

    def writeSpans(): String = {
      if (!a.trace) return ""
      val path = s"${a.out}/spans.jsonl"
      tracer.writeJsonl(path)
      path
    }

    def layerMetrics(coldLoad: Double, warmLoad: Double, warm: Map[String, GroupStats],
                     kernels: Map[String, Double]): Map[String, Double] = {
      def sumOf(groups: Map[String, GroupStats], phase: String => Boolean)(f: GroupStats => Double): Double =
        groups.collect { case (g, s) if phase(g.takeWhile(_ != '|')) => f(s) }.sum
      def perPass(phase: String => Boolean)(f: GroupStats => Double): Double =
        median(passStats.map { case (_, gs) => sumOf(gs, phase)(f) }.toSeq)
      val all: String => Boolean = _ => true
      val exec: String => Boolean = _ == "execute"
      val tracedPasses = passStats.map(_._1).toSet
      def spanSum(pred: Span => Boolean): Double = {
        val byPass = tracer.spans.filter(pred).groupBy(s => passOf(s)).collect {
          case (Some(p), ss) if tracedPasses(p) => ss.map(s => (s.end - s.start) / 1e6).sum
        }
        median(byPass.toSeq)
      }
      val buildMs = (s: Span) => s.name == "build"
      val execMs = spanSum(_.name == "execute")
      val execTaskMs = perPass(exec)(_.taskMs.toDouble)
      val tracedRec = passes.filter(_.traced)
      val mrGroups = (g: String) => g.contains("|mr_")
      def mrPerPass(f: GroupStats => Double): Double = median(passStats.map { case (_, gs) =>
        gs.collect { case (g, s) if mrGroups(g) => f(s) }.sum }.toSeq)
      val familyMetrics = Families.map(_._1).flatMap { fam =>
        val inFam = (g: String) => familyOf.get(g.split('|')(1)).contains(fam)
        Seq(s"operators.build_ms.$fam" -> median(passStats.map { case (p, _) =>
              tracer.spans.filter(s => s.name == "build" && passOf(s).contains(p) &&
                familyOf.get(queryOf(s)).contains(fam)).map(s => (s.end - s.start) / 1e6).sum }.toSeq),
            s"operators.build_jobs.$fam" -> median(passStats.map { case (_, gs) =>
              gs.collect { case (g, s) if g.startsWith("build|") && inFam(g) => s.jobs.toDouble }.sum }.toSeq))
      }
      Map(
        "Tables.load_ms.cold" -> coldLoad,
        "Tables.load_ms.warm" -> warmLoad,
        "Tables.scans_per_query" -> (if (scanCounts.isEmpty) 0.0 else scanCounts.sum.toDouble / scanCounts.size),
        "operators.build_ms" -> spanSum(buildMs),
        "operators.build_jobs" -> perPass(_ == "build")(_.jobs.toDouble),
        "Checkpoints.jobs" -> perPass(all)(_.ckptJobs.toDouble),
        "Checkpoints.ms" -> perPass(all)(_.ckptMs.toDouble),
        "routing.probe_jobs" -> sumOf(warm, all)(_.routeJobs.toDouble),
        "routing.probe_ms" -> sumOf(warm, all)(_.routeMs.toDouble),
        "catalyst.plan_ms" -> spanSum(_.name == "plan"),
        "codegen.compiles" -> median(tracedRec.map(_.compiles.toDouble).toSeq),
        "codegen.compile_ms" -> median(tracedRec.map(_.compileMs).toSeq), // an estimate, see recordPass
        "exec.ms" -> execMs,
        "exec.jobs" -> perPass(exec)(_.jobs.toDouble),
        "exec.stages" -> perPass(exec)(_.stages.toDouble),
        "exec.tasks" -> perPass(exec)(_.tasks.toDouble),
        "exec.task_ms" -> execTaskMs,
        "exec.cpu_ms" -> perPass(exec)(_.cpuMs.toDouble),
        "exec.cores_busy" -> (if (execMs > 0) execTaskMs / execMs else 0.0),
        "exec.shuffle_write_bytes" -> perPass(exec)(_.shuffleWrite.toDouble),
        "exec.shuffle_read_bytes" -> perPass(exec)(_.shuffleRead.toDouble),
        "exec.spill_bytes" -> perPass(exec)(_.spill.toDouble),
        "exec.gc_ms" -> perPass(exec)(_.gcMs.toDouble),
        "exec.input_rows" -> perPass(exec)(_.inputRows.toDouble),
        "exec.task_skew" -> median(passStats.map { case (_, gs) =>
          gs.collect { case (g, s) if g.startsWith("execute|") => s.taskSkew }.foldLeft(0.0)(math.max) }.toSeq),
        "mrcompat.map_ms" -> mrPerPass(_.mapStageMs.toDouble),
        "mrcompat.reduce_ms" -> mrPerPass(_.reduceStageMs.toDouble),
        "mrcompat.shuffle_bytes" -> mrPerPass(_.shuffleWrite.toDouble),
        "jvm.heap_after_gc_mb" -> median(passes.map(_.heapAfterGcMb).toSeq),
        "jvm.gc_ms" -> median(passes.map(_.gcMs.toDouble).toSeq),
        "trace.overhead_s" -> (median(tracedRec.map(_.wallS).toSeq) -
          median(passes.filterNot(_.traced).map(_.wallS).toSeq)),
        "trace.span_coverage" -> (if (spanCover.isEmpty) 0.0 else spanCover.min)
      ) ++ familyMetrics ++ kernels.map { case (k, v) => s"graftvec.$k" -> v }
    }

    /** pass number of a span, from its enclosing pass span */
    private lazy val spanIndex: Map[Int, Span] = tracer.spans.map(s => s.id -> s).toMap
    private def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(Option(s))(_.flatMap(x => spanIndex.get(x.parent))).takeWhile(_.isDefined).map(_.get)
    def passOf(s: Span): Option[Int] = ancestors(s).collectFirst {
      case x if x.name.startsWith("pass:") && x.name != "pass:warm" => x.name.drop(5).toInt
    }
    def queryOf(s: Span): String = ancestors(s).collectFirst {
      case x if x.name.startsWith("query:") => x.name.drop(6)
    }.getOrElse("")

    // ------------------------------------------------------- docdedup

    def runDedup(): Map[String, Any] = {
      val coldLoad = tracer.span("tables") {
        val l0 = System.nanoTime(); loadTable(spark, a.tables, "documents"); ms(l0)
      }
      val docs = Tables.documents(spark, a.tables).select("doc_id", "text").localCheckpoint()
      val nDocs = docs.count()
      val epochOf = pmod(xxhash64(col("doc_id"), lit(a.seed)), lit(DedupEpochs))
      val epochDocs = docs.groupBy(epochOf.as("e")).count().collect()
        .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      val state = s"${a.out}/dedup/state"
      val out = s"${a.out}/dedup/out"
      def ingest(e: Int): Option[Double] = {
        var wall = 0.0
        val ok = attempt(s"epoch@$e") {
          val batch = docs.where(epochOf === e)
          val e0 = System.nanoTime()
          group("epoch", "ingest", e)
          tracer.span(s"epoch:$e")(DocDedup.ingestEpoch(batch, DedupTau, state, out, e.toLong,
            maxBucket = DedupMaxBucket))
          wall = ms(e0)
        }
        if (ok) Some(wall) else None
      }
      (0 until WarmEpochs).foreach(ingest)
      val setupS = (System.nanoTime() - t0) / 1e9
      if (a.trace) { PerfbenchBridge.drainListenerBus(sc); listener.clear() }

      // a fixed number of epochs per --seconds: each epoch costs more than
      // the last as the standing state grows, so a time cut would make the
      // median epoch depend on the engine's speed
      val timedEpochs = math.max(if (a.trace) 4 else 2, math.round(a.seconds / NominalEpochS).toInt)
      var e = WarmEpochs
      while (e < WarmEpochs + timedEpochs) {
        val traced = a.trace && abba(e - WarmEpochs)
        val before = beforePass()
        traceOn(traced)
        val wall = ingest(e)
        wall.foreach(w => samples += (("ingestEpoch", e, w, traced)))
        recordPass(e, traced, wall.getOrElse(0.0) / 1e3, before)
        e += 1
      }
      traceOn(false)
      val last = e - 1

      // parity: the last snapshot == batch dedupCorpus over the same docs
      attempted += 1
      val parity = try {
        import spark.implicits._
        val stream = spark.read.parquet(s"$out/epoch=$last").select("doc_id").as[Long].collect().toSet
        val batch = TextPipeline.dedupCorpus(docs.where(epochOf <= last), DedupTau, "minhash-lsh",
          electBy = "first", maxBucket = DedupMaxBucket).select("doc_id").as[Long].collect().toSet
        if (stream != batch) wrong += s"docdedup: ${(stream -- batch).size} stream-only, ${(batch -- stream).size} batch-only"
        Map("survivors" -> stream.size, "batch_survivors" -> batch.size)
      } catch { case t: Throwable =>
        failures += s"parity: ${t.getMessage}"; Map.empty[String, Any]
      }

      val untraced = samples.filterNot(_._4)
      val wallsMs = untraced.map(_._3).toSeq
      val docsTimed = untraced.map(s => epochDocs.getOrElse(s._2, 0L)).sum.toDouble
      val e2e = Map(
        "setup_s" -> setupS,
        "pass_s" -> median(wallsMs) / 1e3,
        "query_ms.p50" -> median(wallsMs),
        "query_ms.tail" -> pct(wallsMs, tailPct(wallsMs.size)))
      val tracedEpochs = samples.filter(_._4)
      val layers: Map[String, Double] = if (!a.trace) Map.empty else {
        val jobsPerEpoch = passStats.map { case (_, gs) => gs.values.map(_.jobs.toDouble).sum }.toSeq
        Map(
          "Tables.load_ms.cold" -> coldLoad,
          "Checkpoints.jobs" -> median(passStats.map { case (_, gs) => gs.values.map(_.ckptJobs.toDouble).sum }.toSeq),
          "Checkpoints.ms" -> median(passStats.map { case (_, gs) => gs.values.map(_.ckptMs.toDouble).sum }.toSeq),
          "exec.ms" -> median(tracedEpochs.map(_._3).toSeq),
          "exec.jobs" -> median(jobsPerEpoch),
          "exec.tasks" -> median(passStats.map { case (_, gs) => gs.values.map(_.tasks.toDouble).sum }.toSeq),
          "exec.task_ms" -> median(passStats.map { case (_, gs) => gs.values.map(_.taskMs.toDouble).sum }.toSeq),
          "streaming.epoch_ms" -> median(tracedEpochs.map(_._3).toSeq),
          "streaming.epoch_jobs" -> median(jobsPerEpoch),
          "streaming.state_bytes" -> dirBytes(new File(state)).toDouble,
          "jvm.heap_after_gc_mb" -> median(passes.map(_.heapAfterGcMb).toSeq),
          "jvm.gc_ms" -> median(passes.map(_.gcMs.toDouble).toSeq),
          "trace.overhead_s" -> (median(tracedEpochs.map(_._3 / 1e3).toSeq) - median(wallsMs) / 1e3))
      }
      Map("e2e" -> e2e, "tail_pct" -> tailPct(wallsMs.size), "samples" -> wallsMs.size,
        "docs" -> nDocs, "epochs" -> DedupEpochs, "last_epoch" -> last,
        "epoch_s.p50" -> median(wallsMs) / 1e3,
        "docs_per_s" -> (if (wallsMs.nonEmpty) docsTimed / (wallsMs.sum / 1e3) else 0.0),
        "parity" -> parity, "layers" -> layers, "spans" -> writeSpans())
    }
  }
}
