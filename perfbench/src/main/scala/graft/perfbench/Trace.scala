package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call at a layer boundary. `op` is the operation the span
  * belongs to (-1 outside timed operations); `parent` indexes [[Trace.spans]].
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, op: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory tracing for the traced run: spans around the benchmark's calls
  * into each layer, plus Spark and streaming listener counts keyed by the
  * operation that caused them. Off (every call a pass-through) unless
  * [[enabled]]; the untraced run registers no listener at all.
  */
object Trace {
  @volatile var enabled = false
  /** The operation now running, or -1. Read by listeners and by spans. */
  @volatile var op: Int = -1

  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def spans: Seq[Span] = synchronized(recorded.toList)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = synchronized {
        recorded += Span(name, System.nanoTime(), -1L, open.headOption.getOrElse(-1), op)
        open = (recorded.size - 1) :: open
        recorded.size - 1
      }
      try body
      finally synchronized {
        recorded(idx) = recorded(idx).copy(endNs = System.nanoTime())
        open = open.filterNot(_ == idx)
      }
    }

  /** Per-operation sum of the named spans' durations, in ms. */
  def msByOp(name: String): Map[Int, Double] =
    spans.filter(s => s.name == name && s.op >= 0).groupMapReduce(_.op)(_.ms)(_ + _)

  /** Spark work attributed to one operation. */
  final class OpStats {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
    /** (submitted, completed) wall-clock ms of every stage. */
    val stages = mutable.ArrayBuffer.empty[(Long, Long)]
    var triggers = 0L
    val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var stateCommitMs = 0L
    var stateRows = 0L
    var stateMemory = 0L
  }

  private val byOp = mutable.Map.empty[Int, OpStats]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val streamOp = mutable.Map.empty[java.util.UUID, Int]

  def stats(op: Int): OpStats = synchronized(byOp.getOrElseUpdate(op, new OpStats))

  /** Attributes jobs, tasks and stages to the operation named by the
    * `perfbench.op` local property the driver sets around each operation.
    */
  object SparkListener extends org.apache.spark.scheduler.SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.op")))
        .map(_.toInt).getOrElse(-1)
      if (op >= 0) Trace.synchronized {
        stats(op).jobs += 1
        e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val s = stats(op)
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.synchronized {
      val info = e.stageInfo
      for (op <- stageOp.get(info.stageId); sub <- info.submissionTime; done <- info.completionTime)
        stats(op).stages += ((sub, done))
    }
  }

  /** Attributes micro-batch progress to the operation that started the
    * query; `onQueryStarted` runs synchronously inside `start()`.
    */
  object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.synchronized(streamOp(e.runId) = op)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.synchronized {
        val p = e.progress
        streamOp.get(p.runId).filter(_ >= 0).foreach { op =>
          val s = stats(op)
          s.triggers += 1
          p.durationMs.forEach((k, v) => s.streamMs(k) += v.longValue())
          p.stateOperators.foreach { so =>
            s.stateCommitMs += so.commitTimeMs
            s.stateRows = math.max(s.stateRows, so.numRowsTotal)
            s.stateMemory = math.max(s.stateMemory, so.memoryUsedBytes)
          }
        }
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** `System.nanoTime` minus wall-clock time, in ns, to place listener
    * times (wall-clock ms) on the spans' clock.
    */
  private val wallToNanoNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** One `spark.stage` span per stage the listener saw for `op`, under the
    * operation's `op` span.
    */
  def stageSpans(op: Int): Unit = synchronized {
    val parent = recorded.lastIndexWhere(s => s.name == "op" && s.op == op)
    stats(op).stages.foreach { case (sub, done) =>
      recorded += Span("spark.stage", sub * 1000000L + wallToNanoNs, done * 1000000L + wallToNanoNs, parent, op)
    }
  }

  /** Wall time of [startMs, endMs] not covered by any of the op's stages. */
  def idleMs(s: OpStats, startMs: Long, endMs: Long): Long = {
    val clipped = s.stages.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = startMs
    clipped.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    (endMs - startMs) - covered
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":$i,"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
    }
    sb ++= "\n]\n"
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
