package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted for one attribution key. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var schedWaitMs = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var readBytes = 0L
  var readRows = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    schedWaitMs += o.schedWaitMs; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    readBytes += o.readBytes; readRows += o.readRows
  }

  def toJson: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "sched_wait_s" -> schedWaitMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9,
    "executor_run_s" -> runMs / 1e3, "task_gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "shuffle_read_mb" -> shuffleReadBytes / 1e6, "spill_mb" -> spillBytes / 1e6,
    "read_mb" -> readBytes / 1e6, "read_rows" -> readRows)
}

/** The local properties through which the harness tags the jobs of each
  * call. They ride along with every job the calling thread submits, next
  * to the job group and description the harness also sets.
  */
object Tags {
  val Run = "perfbench.run"
  val Phase = "perfbench.phase"
  val Unattributed = "unattributed"

  def set(sc: SparkContext, run: String, item: String, phase: String): Unit = {
    sc.setLocalProperty(Run, run)
    sc.setLocalProperty(Phase, phase)
    sc.setJobGroup(s"perfbench/$run", s"$item/$phase")
  }

  def clear(sc: SparkContext): Unit = {
    sc.setLocalProperty(Run, null)
    sc.setLocalProperty(Phase, null)
    sc.clearJobGroup()
  }
}

/** Counts Spark work per (run, phase) key from listener events.
  *
  * A job belongs to the run named in its `perfbench.run` property only
  * when it was submitted inside that run's open window. Jobs with no
  * property, or with one left over from an earlier run (a pooled thread
  * keeps the properties it inherited when it was created), are counted
  * under [[Tags.Unattributed]] rather than dropped.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val windows = new ConcurrentHashMap[String, Array[Long]]()
  private val work = mutable.LinkedHashMap.empty[String, Work]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]
  private var catalystMs = 0L
  private var sqlActions = 0L
  private var sqlActionNs = 0L
  private var busyNs = 0L

  /** Runs a handler under the lock and counts the time it took. */
  private def handle(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }

  /** Opens the attribution window of `run`; call before its first job. */
  def open(run: String): Unit =
    windows.put(run, Array(System.currentTimeMillis(), Long.MaxValue))

  /** Closes the window of `run`; call after its last job has returned. */
  def close(run: String): Unit =
    Option(windows.get(run)).foreach(_(1) = System.currentTimeMillis())

  private def key(props: java.util.Properties, timeMs: Long): String = {
    val run = Option(props).flatMap(p => Option(p.getProperty(Tags.Run)))
    val phase = Option(props).flatMap(p => Option(p.getProperty(Tags.Phase))).getOrElse("")
    run.filter { r =>
      val w = windows.get(r)
      w != null && timeMs >= w(0) && timeMs <= w(1)
    }.map(r => s"$r|$phase").getOrElse(Tags.Unattributed)
  }

  private def at(k: String): Work = work.getOrElseUpdate(k, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = handle {
    val k = key(e.properties, e.time)
    at(k).jobs += 1
    e.stageIds.foreach(id => if (!stageKey.contains(id)) stageKey(id) = k)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = handle {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = handle {
    at(stageKey.getOrElse(e.stageInfo.stageId, Tags.Unattributed)).stages += 1
    stageSubmitMs.remove(e.stageInfo.stageId)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = handle {
    val w = at(stageKey.getOrElse(e.stageId, Tags.Unattributed))
    stageSubmitMs.get(e.stageId).foreach(s => w.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = handle {
    val w = at(stageKey.getOrElse(e.stageId, Tags.Unattributed))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.cpuNs += m.executorCpuTime
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.readBytes += m.inputMetrics.bytesRead
      w.readRows += m.inputMetrics.recordsRead
    }
  }

  private def onQuery(qe: QueryExecution, durationNs: Long): Unit = handle {
    sqlActions += 1
    sqlActionNs += durationNs
    catalystMs += qe.tracker.phases.collect {
      case (p, s) if p != "parsing" => s.durationMs
    }.sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(qe, 0L)

  /** Work per key since the last [[reset]]; drain the listener bus first. */
  def snapshot(): Map[String, Work] = synchronized(work.toMap)

  def catalystSeconds: Double = synchronized(catalystMs / 1e3)
  def actions: Long = synchronized(sqlActions)
  def actionSeconds: Double = synchronized(sqlActionNs / 1e9)
  /** Time spent handling events: the cost tracing adds to the run. */
  def busySeconds: Double = synchronized(busyNs / 1e9)

  def reset(): Unit = synchronized {
    work.clear(); stageKey.clear(); stageSubmitMs.clear()
    catalystMs = 0L; sqlActions = 0L; sqlActionNs = 0L; busyNs = 0L
    windows.clear()
  }
}

/** One traced interval: a call into a layer made by the harness. */
final case class Span(id: Long, parent: Long, name: String, item: String,
                      startNs: Long, endNs: Long) {
  def toJson: String = Json.obj("id" -> id, "parent" -> parent, "name" -> name,
    "item" -> item, "start_ns" -> startNs, "end_ns" -> endNs)
}

/** Spans kept in memory and written out when the run ends. A span's
  * parent is the innermost span open on the same thread. When tracing is
  * off, [[apply]] runs the body and records nothing.
  */
final class Spans {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def apply[A](name: String, item: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        done.synchronized { done += Span(id, stack.headOption.getOrElse(0L), name, item, t0, t1) }
      }
    }

  def all: Seq[Span] = done.synchronized(done.toList)
}
