package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Counters a measured call moved, read as the difference of two snapshots. */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
                        shuffleWrite: Long, shuffleRead: Long, input: Long,
                        spill: Long, maxTaskMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, input - o.input, spill - o.spill, maxTaskMs)
  def fields: Seq[(String, Any)] = Seq("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "input_bytes" -> input,
    "spill_bytes" -> spill, "max_task_ms" -> maxTaskMs)
}

/** One finished SQL execution (one Dataset action) and the call site it is
  * named after, e.g. "count at EthPipeline.scala:170". */
final class ExecRecord(val id: Long, val site: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
}

/** One finished Spark job: its call site (the SQL execution's when it runs
  * inside one, as adaptive query stages do, else the result stage's), the
  * SQL execution id or -1, the benchmark span that was open on the
  * submitting thread, and what its tasks did. */
final class JobRecord(val id: Int, val site: String, val exec: Long,
                      val span: String, val startMs: Long) {
  @volatile var endMs: Long = startMs
  val tasks = new AtomicLong
  val input = new AtomicLong
  val shuffleRead = new AtomicLong
}

/** Spark listener that counts jobs, stages, tasks and task I/O for the
  * whole session, and keeps a record per job for call-site attribution. */
final class Meter(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, shufW, shufR, input, spill = new AtomicLong
  private val maxTask = new AtomicLong
  private val live = new ConcurrentHashMap[Int, JobRecord]
  private val byStage = new ConcurrentHashMap[Int, JobRecord]
  private val done = new ConcurrentLinkedQueue[JobRecord]
  private val liveExecs = new ConcurrentHashMap[Long, ExecRecord]
  private val doneExecs = new ConcurrentLinkedQueue[ExecRecord]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val site = Option(liveExecs.get(exec)).map(_.site).getOrElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    val rec = new JobRecord(e.jobId, site, exec, prop(Meter.SpanKey).getOrElse(""), e.time)
    live.put(e.jobId, rec)
    e.stageIds.foreach(s => byStage.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(live.remove(e.jobId)).foreach { r => r.endMs = e.time; done.add(r) }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      liveExecs.put(s.executionId, new ExecRecord(s.executionId, s.description, s.time))
    case x: SparkListenerSQLExecutionEnd =>
      Option(liveExecs.remove(x.executionId)).foreach { r =>
        r.endMs = x.time; doneExecs.add(r)
      }
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      input.addAndGet(m.inputMetrics.bytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      maxTask.accumulateAndGet(m.executorRunTime, math.max)
      Option(byStage.get(e.stageId)).foreach { r =>
        r.tasks.incrementAndGet()
        r.input.addAndGet(m.inputMetrics.bytesRead)
        r.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }

  /** Totals after every event posted so far has been delivered. The
    * longest-task figure restarts at each snapshot. */
  def snap(): Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Counts(jobs.get, stages.get, tasks.get, shufW.get, shufR.get,
      input.get, spill.get, maxTask.getAndSet(0L))
  }

  /** Finished jobs and SQL executions, oldest first; both lists are
    * emptied. */
  def take(): (Seq[JobRecord], Seq[ExecRecord]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    (Iterator.continually(done.poll()).takeWhile(_ != null).toSeq.sortBy(_.id),
      Iterator.continually(doneExecs.poll()).takeWhile(_ != null).toSeq.sortBy(_.id))
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object Meter {
  /** Local property carrying the open span id into the jobs it submits. */
  val SpanKey = "perfbench.span"
}

/** In-memory spans (name, start, end, parent) around the benchmark's calls
  * into each layer. Off in untraced runs: `apply` then only runs the body. */
final class Tracer(sc: () => SparkContext, val enabled: Boolean) {
  import Tracer.Span
  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private val t0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, open.headOption.getOrElse(0),
        System.nanoTime() - t0)
      spans += s
      open = s.id :: open
      sc().setLocalProperty(Meter.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime() - t0
        open = open.tail
        sc().setLocalProperty(Meter.SpanKey, open.headOption.map(_.toString).orNull)
      }
    }

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
    "start_ms" -> (wall0 + s.startNs / 1e6), "end_ms" -> (wall0 + s.endNs / 1e6)))
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        var endNs: Long = 0L)
}
