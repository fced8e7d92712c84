package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the raw run record (numbers, strings,
  * booleans, sequences and string-keyed maps).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(apply).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Wall clock in microseconds, anchored once so bench-side spans and Spark's
  * millisecond event times share one axis.
  */
object Clock {
  private val baseWallUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  def nowUs: Long = baseWallUs + (System.nanoTime() - baseNano) / 1000L
}

/** One timed interval at a layer boundary. `op` is the per-operation id its
  * whole subtree shares; `parent` is the causing span (0 for the root).
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
                      name: String, startUs: Long, endUs: Long) {
  def toJson: String = Json(Map("id" -> id, "parent" -> parent, "op" -> op,
    "layer" -> layer, "name" -> name, "start_us" -> startUs, "end_us" -> endUs))
}

/** In-memory span store; written out once, when the run ends. */
final class Spans(enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) synchronized { buf += s }

  /** Run `f` inside a span; returns its value and its wall seconds. */
  def timed[T](layer: String, name: String, parent: Long, op: Long)(f: Long => T): (T, Double) = {
    val id = nextId()
    val t0 = Clock.nowUs
    val n0 = System.nanoTime()
    val v = try f(id) finally add(Span(id, parent, if (op == 0) id else op, layer, name, t0, Clock.nowUs))
    (v, (System.nanoTime() - n0) / 1e9)
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

/** Spark job, stage and task records, keyed by the job group the benchmark
  * sets around each timed call (`bench:<span id>`). `run.py` turns them
  * into per-layer totals and into job and stage spans under that call.
  */
final class JobProbe extends SparkListener {
  final class StageRec(val id: Int, val group: String, val job: Int, var name: String) {
    var submitMs = 0L; var endMs = 0L; var tasks = 0; var failed = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spillMem = 0L; var spillDisk = 0L
    var peakMem = 0L; var outBytes = 0L
    val durs = mutable.ArrayBuffer.empty[Long]
  }
  final case class JobRec(id: Int, group: String, submitMs: Long, var endMs: Long,
                          var ok: Boolean, stages: Seq[Int])

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageGroup = mutable.HashMap.empty[Int, (String, Int)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, g, e.time, 0L, ok = false, e.stageIds)
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, (g, e.jobId)))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time; j.ok = e.jobResult == JobSucceeded
    }
  }
  private def rec(stageId: Int, name: String): StageRec =
    stages.getOrElseUpdate(stageId, {
      val (g, j) = stageGroup.getOrElse(stageId, ("", -1))
      new StageRec(stageId, g, j, name)
    })
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val r = rec(e.stageInfo.stageId, e.stageInfo.name)
    r.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val r = rec(i.stageId, i.name)
    r.name = i.name
    r.tasks = i.numTasks
    r.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
    if (r.submitMs == 0L) r.submitMs = i.submissionTime.getOrElse(r.endMs)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val r = rec(e.stageId, "")
    val ti = e.taskInfo
    if (ti.failed || ti.killed) r.failed += 1
    r.durs += ti.duration
    val m = e.taskMetrics
    if (m != null) {
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.spillMem += m.memoryBytesSpilled
      r.spillDisk += m.diskBytesSpilled
      r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
      r.outBytes += m.outputMetrics.bytesWritten
      val fetch = if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
      r.schedMs += math.max(0L, ti.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch)
    }
  }

  def toJson: String = synchronized {
    val js = jobs.values.map(j => Map("id" -> j.id, "group" -> j.group,
      "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "ok" -> j.ok, "stages" -> j.stages))
    val ss = stages.values.map(r => Map("id" -> r.id, "group" -> r.group,
      "job" -> r.job, "name" -> r.name, "submit_ms" -> r.submitMs,
      "end_ms" -> r.endMs, "tasks" -> r.tasks, "failed" -> r.failed,
      "run_ms" -> r.runMs, "cpu_ns" -> r.cpuNs, "gc_ms" -> r.gcMs,
      "sched_ms" -> r.schedMs, "shuffle_read" -> r.shuffleRead,
      "shuffle_write" -> r.shuffleWrite, "spill_mem" -> r.spillMem,
      "spill_disk" -> r.spillDisk, "peak_mem" -> r.peakMem,
      "out_bytes" -> r.outBytes, "task_ms" -> r.durs.toList))
    Json(Map("jobs" -> js, "stages" -> ss))
  }
}

/** Planning versus execution time of every Dataset action, from the query
  * tracker's phase summaries. Events arrive asynchronously without the
  * caller's job group, so they are matched to the timed call by start time.
  */
final class PlanProbe extends QueryExecutionListener {
  val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def record(fn: String, qe: QueryExecution, durNs: Long, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    val planMs = ph.values.map(p => p.endTimeMs - p.startTimeMs).sum
    val startMs = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    synchronized {
      recs += Map("func" -> fn, "start_ms" -> startMs, "plan_ms" -> planMs,
        "exec_ms" -> durNs / 1e6, "ok" -> ok)
    }
  }
  override def onSuccess(fn: String, qe: QueryExecution, durNs: Long): Unit =
    record(fn, qe, durNs, ok = true)
  override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
    record(fn, qe, 0L, ok = false)
  def toJson: String = synchronized(Json(recs.toList))
}

/** Per-epoch progress of the stream: batch id, input rows and the engine's
  * duration breakdown (the foreachBatch body is `addBatch`).
  */
final class StreamProbe extends StreamingQueryListener {
  val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      recs += Map("run_id" -> p.runId.toString, "batch" -> p.batchId, "rows" -> p.numInputRows,
        "timestamp" -> p.timestamp, "trigger_ms" -> ms("triggerExecution"),
        "add_batch_ms" -> ms("addBatch"))
    }
  }
  def toJson: String = synchronized(Json(recs.toList))
}
