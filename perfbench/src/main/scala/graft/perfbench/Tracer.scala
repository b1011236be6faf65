package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side spans: one per call into a layer's public function.
  * Spans of one operation (a build, a batch, a query) share the
  * operation's id; a child span names its parent. Times are epoch millis
  * so they line up with the scheduler's event timestamps. Spans stay in
  * memory and are written out when the run ends.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, t0: Long, t1: Long) {
  def wallS: Double = (t1 - t0) / 1e3
}

final class Spans {
  val all = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String, op: Int)(f: => T): T = {
    val id = all.size
    all += Span(id, open.headOption.getOrElse(-1), op, name, 0L, 0L)
    open = id :: open
    val t0 = System.currentTimeMillis()
    try f
    finally {
      all(id) = all(id).copy(t0 = t0, t1 = System.currentTimeMillis())
      open = open.tail
    }
  }

  def named(name: String): Seq[Span] = all.filter(_.name == name).toSeq
}

/** One finished job: its time window and the module whose code called it. */
final case class JobRec(id: Int, start: Long, end: Long, module: String, ok: Boolean)

/** One finished task's metrics (times in ms, sizes in bytes). */
final case class TaskRec(finish: Long, runMs: Long, gcMs: Long, inputB: Long,
                         shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, failed: Boolean)

/** Records every job and task the scheduler reports while attached.
  *
  * Jobs are attributed to spans by time window, not by job-group
  * properties: go() and the streaming loads submit their jobs from
  * global-ExecutionContext Futures, which do not reliably inherit the
  * caller's local properties. A job's module is the first `graft.*` class
  * outside this benchmark in its call site; adaptive-execution stage jobs
  * run on Spark's own threads, so for those it is the call site of the SQL
  * execution that submitted them. A job the benchmark's own call triggers
  * on a lazily planned DataFrame (a query run through the noop sink) has
  * no such frame and counts as `perfbench`.
  */
final class Recorder extends SparkListener {
  private val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
  private val execModule = scala.collection.concurrent.TrieMap.empty[String, String]
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execModule.put(x.executionId.toString, Recorder.module(x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val own = Recorder.module(site)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    starts.put(e.jobId, (e.time,
      if (own != "perfbench") own else exec.flatMap(execModule.get).getOrElse(own)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    starts.remove(e.jobId).foreach { case (t0, m) =>
      synchronized(jobs += JobRec(e.jobId, t0, e.time, m, e.jobResult == JobSucceeded))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(e.taskInfo.finishTime, 0, 0, 0, 0, 0, 0, e.taskInfo.failed)
      else TaskRec(e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        e.taskInfo.failed)
    synchronized(tasks += rec)
  }
}

object Recorder {
  private val Frame = """\s*(graft\.[\w.$]+)\.[\w$]+\(""".r.unanchored

  /** `graft.dv.DvGo$$anonfun$1.apply(DvGo.scala:9)` -> `dv.DvGo`. */
  def module(callSite: String): String =
    callSite.split("\n").iterator.collect { case Frame(cls) => cls }
      .map(_.split('$').head)
      .find(c => !c.startsWith("graft.perfbench."))
      .map(_.stripPrefix("graft."))
      .getOrElse("perfbench")

  /** Attach for the duration of `f`, then wait until every event `f`
    * caused has reached the recorder before detaching.
    */
  def during[T](sc: SparkContext, r: Option[Recorder])(f: => T): T = r match {
    case None => f
    case Some(rec) =>
      sc.addSparkListener(rec)
      try f
      finally {
        org.apache.spark.BusDrain(sc)
        sc.removeSparkListener(rec)
      }
  }
}

/** What the recorder saw inside one time window. */
final case class Window(wallS: Double, jobs: Seq[JobRec], tasks: Seq[TaskRec]) {
  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
  /** Wall time covered by at least one job. */
  def jobS: Double = union(jobs.map(j => (j.start, j.end)))
  /** Wall time with no job running: driver-side planning, metadata I/O. */
  def driverS: Double = math.max(0.0, wallS - jobS)
  def busyS(module: String): Double = union(jobs.filter(_.module == module).map(j => (j.start, j.end)))
  def runS: Double = tasks.map(_.runMs).sum / 1e3
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def inputB: Long = tasks.map(_.inputB).sum
  def shuffleReadB: Long = tasks.map(_.shuffleReadB).sum
  def shuffleWriteB: Long = tasks.map(_.shuffleWriteB).sum
  def spillB: Long = tasks.map(_.spillB).sum
  def failedTasks: Int = tasks.count(_.failed)
  def coreUtil(cores: Int): Double = if (wallS <= 0) 0.0 else runS / (wallS * cores)
}

object Window {
  def of(r: Recorder, sp: Span): Window = {
    val (jobs, tasks) = r.synchronized((r.jobs.toSeq, r.tasks.toSeq))
    Window(sp.wallS,
      jobs.filter(j => j.start >= sp.t0 && j.start <= sp.t1),
      tasks.filter(t => t.finish >= sp.t0 && t.finish <= sp.t1))
  }
}
