package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval on the benchmark thread. `parent` is 0 for a
  * top-level span; all spans of a run share the tracer's run id.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Before a span's body runs, the benchmark thread's
  * Spark job group is set to the span, so [[JobGroupListener]] can charge
  * every job, stage and task to the innermost open span.
  */
final class Tracer(val runId: String, sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0

  def groupOf(id: Int): String = s"$runId:$id"

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = open.headOption.fold(0)(_._1)
    sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    open = (id, name, System.nanoTime()) :: open
    try body
    finally {
      val start = open.head._3
      open = open.tail
      done += Span(id, parent, name, start, System.nanoTime())
      open.headOption match {
        case Some((pid, pname, _)) => sc.setJobGroup(groupOf(pid), pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def spans: Seq[Span] = done.toSeq
  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def selfMs(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    Stats.selfTime(s.startNs, s.endNs, kids) / 1e6
  }
}

/** Spark work charged to one job group: jobs, stages and task metrics. */
final class GroupTotals {
  var jobs, stages, shuffleStages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWriteBytes, spillBytes, recordsIn = 0L
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: GroupTotals): Unit = {
    jobs += o.jobs; stages += o.stages; shuffleStages += o.shuffleStages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; recordsIn += o.recordsIn; jobIntervalsMs ++= o.jobIntervalsMs
  }

  /** Wall time during which at least one of these jobs was running. */
  def jobWallMs: Double = Stats.unionLength(jobIntervalsMs.toSeq).toDouble
}

/** Rolls Spark's job, stage and task events up per job group. Jobs started
  * by a streaming query's own thread carry no benchmark group and are
  * charged to "stream"; anything else ungrouped to "-".
  */
final class JobGroupListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, GroupTotals]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private var started, ended = 0L

  private def totals(g: String) = byGroup.getOrElseUpdate(g, new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")).map(_ => "stream")))
      .getOrElse("-")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
    val t = totals(g)
    t.jobs += 1
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    // a job that started before this listener was added is not counted
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      totals(g).jobIntervalsMs += ((t0, e.time))
      ended += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val t = totals(stageGroup.getOrElse(e.stageInfo.stageId, "-"))
    t.stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null && m.shuffleWriteMetrics.bytesWritten > 0) t.shuffleStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals(stageGroup.getOrElse(e.stageId, "-"))
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.recordsIn += m.inputMetrics.recordsRead
    }
  }

  /** Waits until every started job's end event has been delivered (task and
    * stage events of a job are posted before its end event).
    */
  def quiesce(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized(started == ended)
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def group(g: String): GroupTotals = synchronized(byGroup.getOrElse(g, new GroupTotals))

  def sum(groups: Iterable[String]): GroupTotals = synchronized {
    val t = new GroupTotals
    groups.foreach(g => byGroup.get(g).foreach(t.add))
    t
  }

  def all: GroupTotals = sum(synchronized(byGroup.keys.toSeq))
}

/** Collects each streaming micro-batch's duration breakdown (ms) from the
  * query progress events; batches that read no rows are skipped.
  */
final class BatchProgressListener extends StreamingQueryListener {
  private val rows = mutable.ArrayBuffer.empty[Map[String, Long]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      import scala.jdk.CollectionConverters._
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      synchronized(rows += d)
    }
  }

  def batches: Seq[Map[String, Long]] = synchronized(rows.toSeq)

  /** Waits for `n` batches' progress events (they arrive asynchronously
    * after the query terminates); returns whether they all came.
    */
  def await(n: Int, timeoutMs: Long = 20000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (batches.size < n && System.currentTimeMillis() < deadline) Thread.sleep(20)
    batches.size >= n
  }

  def clear(): Unit = synchronized(rows.clear())
}
