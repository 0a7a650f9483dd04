package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own calls into the engine.
  * Times are nanoseconds since the run started; `parent` is -1 at the
  * root. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** In-memory span recorder. Spans nest through a stack on the (single)
  * benchmark thread; they are written out once, when the run ends. */
final class Tracer(val runId: String) {
  private val t0 = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  var enabled = false

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack.push((id, name, System.nanoTime() - t0))
      try f
      finally {
        val (_, _, start) = stack.pop()
        done += Span(id, parent, name, start, System.nanoTime() - t0)
      }
    }

  /** id of the innermost open span, -1 when none is open */
  def current: Int = stack.headOption.map(_._1).getOrElse(-1)

  /** Add a span the engine timed itself (epoch milliseconds) under a
    * closed parent span, clipped to the parent's interval. */
  def recordMs(name: String, parent: Int, startMs: Long, endMs: Long): Unit =
    if (enabled) done.findLast(_.id == parent).foreach { p =>
      val start = math.max(p.start, (startMs - t0Ms) * 1000000L)
      done += Span(nextId, parent, name, start, math.max(start, math.min(p.end, (endMs - t0Ms) * 1000000L)))
      nextId += 1
    }

  def spans: Seq[Span] = done.toSeq

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try done.sortBy(_.id).foreach { s =>
      w.println(Json(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
    } finally w.close()
  }
}

/** The last query execution the session reported as finished. The
  * benchmark reads the planning phases and the physical plan of the very
  * execution it timed from here, rather than planning the query again. */
final class LastExecution extends QueryExecutionListener {
  @volatile var last: Option[QueryExecution] = None
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last = Some(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = last = None
}

/** Listener totals for the jobs of one job group. The benchmark thread
  * names every group `phase|item|pass` before it calls into the engine,
  * so each job, stage and task is charged to the call that caused it. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var taskMs, cpuMs, gcMs, shuffleWrite, shuffleRead, spill, inputRows = 0L
  var ckptJobs, ckptMs, routeJobs, routeMs = 0L
  var mapStageMs, reduceStageMs = 0L
  /** worst max/median task-duration ratio over this group's stages */
  var taskSkew = 0.0
}

final class GroupListener extends SparkListener {
  val groups = TrieMap.empty[String, GroupStats]
  private val jobInfo = TrieMap.empty[Int, (String, Long, String)]
  private val stageGroup = TrieMap.empty[Int, String]
  private val stageTasks = TrieMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val shuffleMapStages = TrieMap.empty[Int, Boolean]
  private val executionKind = TrieMap.empty[Long, String]

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  /** Which engine layer launched the job, read from the call sites
    * Spark records: the stage's, or, for jobs that adaptive execution
    * submits from its own threads, the SQL execution's. */
  private def kind(details: Seq[String]): String = {
    val d = details.mkString("\n")
    if (d.contains("Checkpoints$.cut")) "checkpoint"
    else if (d.contains("routeBySkew") || d.contains("RangeStitch")) "routing"
    else "other"
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionKind(s.executionId) = kind(Seq(s.details))
    case s: SparkListenerSQLExecutionEnd => executionKind.remove(s.executionId)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val g = prop("spark.jobGroup.id").getOrElse("none")
    val k = kind(e.stageInfos.map(_.details)) match {
      case "other" => prop("spark.sql.execution.id")
        .flatMap(id => executionKind.get(id.toLong)).getOrElse("other")
      case known => known
    }
    jobInfo(e.jobId) = (g, e.time, k)
    e.stageInfos.foreach(si => stageGroup.putIfAbsent(si.stageId, g))
    synchronized { stats(g).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobInfo.remove(e.jobId).foreach { case (g, start, k) =>
      val ms = e.time - start
      synchronized {
        val s = stats(g)
        if (k == "checkpoint") { s.ckptJobs += 1; s.ckptMs += ms }
        if (k == "routing") { s.routeJobs += 1; s.routeMs += ms }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val g = stageGroup.getOrElse(si.stageId, "none")
    val durs = stageTasks.remove(si.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty)
    val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
    val isMap = shuffleMapStages.remove(si.stageId).isDefined
    synchronized {
      val s = stats(g)
      s.stages += 1
      if (isMap) s.mapStageMs += wall else s.reduceStageMs += wall
      if (durs.size >= 2) {
        val med = math.max(1L, durs(durs.size / 2))
        s.taskSkew = math.max(s.taskSkew, durs.last.toDouble / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrElse(e.stageId, "none")
    if (e.taskType == "ShuffleMapTask") shuffleMapStages.putIfAbsent(e.stageId, true)
    val m = e.taskMetrics
    synchronized {
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      val s = stats(g)
      s.tasks += 1
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1000000L
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  def clear(): Unit = groups.clear()
}

/** Minimal JSON writer for the report (numbers, strings, maps, seqs). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
