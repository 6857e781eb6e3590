package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark work attributed to one span: everything the engine did for
  * jobs launched while that span's job group was set. */
final class LayerAcc {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, fetchWaitMs = 0L
  var spillMemory, spillDisk = 0L
  var rowsRead, bytesRead, bytesWritten = 0L
  /** per stage: executor run time of each finished task, ms */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def add(o: LayerAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    shuffleRecords += o.shuffleRecords; fetchWaitMs += o.fetchWaitMs
    spillMemory += o.spillMemory; spillDisk += o.spillDisk
    rowsRead += o.rowsRead; bytesRead += o.bytesRead
    bytesWritten += o.bytesWritten
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
  }

  /** Max over stages with at least two tasks of max/median task time
    * (median floored at 1 ms); 1.0 when no stage qualifies. */
  def taskSkew: Double =
    stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }.foldLeft(1.0)(math.max)
}

/** Collects task metrics per job group (one group per span) and
  * streaming progress. Registered only for traced passes; read only
  * after [[org.apache.spark.graftbench.BusDrain]]. Structured
  * Streaming runs its micro-batches under its own job group (the
  * query's run id); [[alias]] maps that id to the span that started
  * the query. */
final class Tracer extends SparkListener {
  private val byGroup = mutable.Map[String, LayerAcc]()
  private val stageGroup = mutable.Map[Int, String]()
  private val aliases = mutable.Map[String, String]()
  var batches = 0L
  var batchMs = 0L

  private def acc(g: String): LayerAcc = byGroup.getOrElseUpdate(g, new LayerAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageGroup.getOrElse(e.stageId, ""))
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillMemory += m.memoryBytesSpilled
      a.spillDisk += m.diskBytesSpilled
      a.rowsRead += m.inputMetrics.recordsRead
      a.bytesRead += m.inputMetrics.bytesRead
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        m.executorRunTime
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        if (e.progress.numInputRows > 0) {
          batches += 1
          batchMs += Option(e.progress.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L)
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def alias(runId: String, group: String): Unit = synchronized { aliases(runId) = group }

  /** Sum over every group whose (alias-resolved) id satisfies `p`. */
  def total(p: String => Boolean): LayerAcc = synchronized {
    val t = new LayerAcc
    byGroup.foreach { case (g, a) => if (p(aliases.getOrElse(g, g))) t.add(a) }
    t
  }

  def reset(): Unit = synchronized {
    byGroup.clear(); stageGroup.clear(); aliases.clear()
    batches = 0; batchMs = 0
  }
}

/** One traced interval. Self time is the duration minus what the
  * child spans cover. */
final case class Span(id: Int, parent: Int, name: String,
  startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span log, written once when the run ends. */
final class Spans {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def open(name: String): Span = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, System.nanoTime)
    spans += s
    stack = s.id :: stack
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime
    stack = stack.dropWhile(_ != s.id).drop(1)
  }

  def apply[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  def json: String = {
    val child = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = child.getOrElse(s.id, Nil).map(_.seconds).sum
      f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        f""""start_s":${s.startNs / 1e9}%.6f,"dur_s":${s.seconds}%.6f,""" +
        f""""self_s":${s.seconds - covered}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
