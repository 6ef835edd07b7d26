package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One timed operation as the run saw it. `ok` is the harness's own check of
  * the operation's output; `rows` is the row count it returned.
  */
final class OpRecord(val id: Int, val name: String, val ms: Double,
    val startMs: Long, val endMs: Long, var ok: Boolean, var detail: String, var rows: Long)

/** State shared by the workloads of one benchmark process. */
final class Harness(val spark: SparkSession, val seed: Long, val seconds: Int,
    val minOps: Int, processStartNs: Long, preMainMs: Long) {

  val records = mutable.ArrayBuffer.empty[OpRecord]
  /** Layer metrics of the traced run, by name. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val setupParts = mutable.LinkedHashMap.empty[String, Double]
  var setupS: Double = 0.0
  private var nextId = 0

  /** Seconds from JVM start to now. */
  def sinceStartS: Double = preMainMs / 1000.0 + (System.nanoTime() - processStartNs) / 1e9

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `ops` untimed and returns their wall time in seconds. A failure
    * here is left for the timed operations to record.
    */
  def warmUp(ops: Seq[(String, Int => Long)]): Double = timeS(Trace.span("setup.warmup") {
    ops.foreach { case (name, run) =>
      try run(-1) catch { case e: Exception => System.err.println(s"[perfbench] warm-up $name: $e") }
    }
  })._2

  /** Runs whole rounds of `round` until `seconds` have passed and at least
    * `minOps` operations were attempted. Each operation is timed alone;
    * `after` runs untimed right after it (checks, housekeeping, traced
    * extras). A throwing operation is recorded as failed, never as fast.
    */
  def loop(round: Seq[(String, Int => Long)])(after: (OpRecord, Option[Any]) => Unit): Unit = {
    setupS = sinceStartS
    val t0 = System.nanoTime()
    val sc = spark.sparkContext
    while ((System.nanoTime() - t0) < seconds * 1000000000L || records.size < minOps) {
      round.foreach { case (name, run) =>
        val id = nextId
        nextId += 1
        if (Trace.enabled) { Trace.op = id; sc.setLocalProperty("perfbench.op", id.toString) }
        val startMs = System.currentTimeMillis()
        val s = System.nanoTime()
        val outcome = try Right(Trace.span("op")(run(id))) catch { case e: Throwable => Left(e) }
        val ms = (System.nanoTime() - s) / 1e6
        val endMs = System.currentTimeMillis()
        if (Trace.enabled) sc.setLocalProperty("perfbench.op", null)
        val rec = outcome match {
          case Right(rows) => new OpRecord(id, name, ms, startMs, endMs, true, "", rows)
          case Left(e) =>
            System.err.println(s"[perfbench] $name failed: $e")
            new OpRecord(id, name, ms, startMs, endMs, false, s"error: $e", -1L)
        }
        records += rec
        after(rec, outcome.toOption)
        Trace.op = -1
      }
    }
  }

  def fail(rec: OpRecord, why: String): Unit = {
    if (rec.ok) System.err.println(s"[perfbench] ${rec.name} (op ${rec.id}) wrong: $why")
    rec.ok = false
    rec.detail = why
  }

  /** Mean over the timed operations of a per-operation value. */
  def meanOver(values: Map[Int, Double]): Double =
    if (records.isEmpty) 0.0 else records.map(r => values.getOrElse(r.id, 0.0)).sum / records.size

  /** Spark and streaming listener counts, per operation, into the layer
    * metrics, and each operation's stages as `spark.stage` spans.
    */
  def recordSparkLayers(): Unit = {
    Trace.span("spark.listener_drain")(org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext))
    def per(f: Trace.OpStats => Double): Double =
      meanOver(records.map(r => r.id -> f(Trace.stats(r.id))).toMap)
    Trace.span("spark.listener") {
      records.foreach(r => Trace.stageSpans(r.id))
      layers("spark.jobs") = per(_.jobs.toDouble)
      layers("spark.tasks") = per(_.tasks.toDouble)
      layers("spark.task_cpu_ms") = per(_.cpuNs / 1e6)
      layers("spark.gc_ms") = per(_.gcMs.toDouble)
      layers("spark.shuffle_read_bytes") = per(_.shuffleRead.toDouble)
      layers("spark.shuffle_write_bytes") = per(_.shuffleWrite.toDouble)
      layers("spark.spill_bytes") = per(_.spill.toDouble)
      layers("spark.peak_exec_memory_bytes") =
        records.map(r => Trace.stats(r.id).peakMem.toDouble).maxOption.getOrElse(0.0)
      layers("spark.idle_ms") = meanOver(records.map(r =>
        r.id -> Trace.idleMs(Trace.stats(r.id), r.startMs, r.endMs).toDouble).toMap)
    }
    Trace.span("streaming.listener") {
      layers("streaming.triggers") = per(_.triggers.toDouble)
      layers("streaming.add_batch_ms") = per(_.streamMs("addBatch").toDouble)
      layers("streaming.query_planning_ms") = per(_.streamMs("queryPlanning").toDouble)
      layers("streaming.wal_commit_ms") = per(_.streamMs("walCommit").toDouble)
      layers("streaming.commit_offsets_ms") = per(_.streamMs("commitOffsets").toDouble)
      layers("streaming.state_commit_ms") = per(_.stateCommitMs.toDouble)
      layers("streaming.state_rows") =
        records.map(r => Trace.stats(r.id).stateRows.toDouble).maxOption.getOrElse(0.0)
      layers("streaming.state_memory_bytes") =
        records.map(r => Trace.stats(r.id).stateMemory.toDouble).maxOption.getOrElse(0.0)
    }
    val okMs = records.filter(_.ok).map(_.ms).sorted
    layers("trace.op_p50_ms") = if (okMs.isEmpty) 0.0 else okMs((okMs.size - 1) / 2)
  }

  def recordJvmLayers(): Unit = Trace.span("jvm.read") {
    import java.lang.management.ManagementFactory
    System.gc()
    var afterGc = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      Option(p.getCollectionUsage).foreach(u => afterGc += u.getUsed)
    }
    layers("jvm.heap_after_gc_mb") = afterGc / 1048576.0
    val hwm = scala.util.Try(Files.readAllLines(Path.of("/proc/self/status"))).toOption.toSeq
      .flatMap(l => (0 until l.size).map(l.get)).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
    layers("jvm.peak_rss_mb") = hwm.getOrElse(0.0)
  }
}

object Harness {
  /** Every node of an executed plan, through adaptive wrappers and stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
}
