package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

import graft.{GraftEngine, GraftExtensions}
import graft.catalog.GraftTableCatalog

/** The traced run's catalog: the program's catalog with a span around
  * `loadTable`. Untraced runs register the program's class itself.
  */
class TracedCatalog extends GraftTableCatalog {
  override def loadTable(ident: org.apache.spark.sql.connector.catalog.Identifier)
      : org.apache.spark.sql.connector.catalog.Table =
    Trace.span("catalog.load_table")(super.loadTable(ident))
}

/** One benchmark process: `Main <workload> <seed> <seconds> <trace 0|1>
  * <work dir> <fixture dir> <cores>`. Runs the workload's set-up, warm-up and
  * timed loop on one local session and writes `<work dir>/result.json`;
  * `run.py` turns that into the benchmark's metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val processStartNs = System.nanoTime()
    val preMainMs = ManagementFactory.getRuntimeMXBean.getUptime
    val Array(workload, seedArg, secondsArg, traceArg, workArg, fixtureDir, coresArg) = args
    val work = Path.of(workArg)
    val cores = coresArg.toInt
    val trace = traceArg == "1"
    Trace.enabled = trace

    val sessionT0 = System.nanoTime()
    val spark = Trace.span("setup.session")(SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", GraftEngine.shjThreshold)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.graft",
        (if (trace) classOf[TracedCatalog] else classOf[GraftTableCatalog]).getName)
      .config("spark.sql.catalog.graft.metastore", work.resolve("metastore").toString)
      .config("spark.sql.catalog.graft.source", "kafka")
      .config("spark.sql.catalog.graft.bootstrap", "segment-log")
      .config("spark.sql.catalog.graft.sourceFormat", classOf[SegmentLog].getName)
      .config("spark.sql.catalog.graft.sourcePartitions", Events.Partitions.toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      spark.sparkContext.addSparkListener(Trace.SparkListener)
      spark.streams.addListener(Trace.StreamListener)
    }
    // at least 100 operations on the topic workloads, so op_p90_ms has ten
    // samples beyond it; three whole passes on the registry, whose operations
    // are too long for that
    val minOps = if (workload == "registry_heavy") Registry.Passes * Registry.Entries.size else 100
    val h = new Harness(spark, seedArg.toLong, secondsArg.toInt, minOps, processStartNs, preMainMs)
    h.setupParts("setup.session_s") = (System.nanoTime() - sessionT0) / 1e9

    var oracles = Map.empty[String, String]
    workload match {
      case "topic_scan" | "topic_tail" =>
        val topic = new Topic(h)
        val (_, produceS) = h.timeS(Trace.span("setup.produce")(topic.prepare(work.resolve("metastore").toString)))
        h.setupParts("setup.produce_s") = produceS
        if (workload == "topic_scan") topic.scan() else topic.tail()
        if (trace) topic.recordTraceLayers()
      case "registry_heavy" =>
        val out = work.resolve("registry-out").toString
        val registry = new Registry(h, fixtureDir, out)
        val (_, registerS) = h.timeS(Trace.span("setup.produce")(graft.Tables.registerAll(spark, fixtureDir)))
        h.setupParts("setup.produce_s") = registerS
        registry.run()
        if (trace) registry.recordTraceLayers()
        oracles = Registry.oracles
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    if (trace) {
      h.recordSparkLayers()
      h.recordJvmLayers()
      Trace.writeSpans(work.resolve("spans.json"))
    }
    writeResult(h, work.resolve("result.json"), cores, oracles)
    spark.stop()
  }

  private def writeResult(h: Harness, path: Path, cores: Int, oracles: Map[String, String]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val env = root.putObject("env")
    env.put("cores", cores)
    env.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576)
    env.put("spark", h.spark.version)
    env.put("jdk", System.getProperty("java.version"))
    env.put("scala", scala.util.Properties.versionNumberString)
    env.put("seed", h.seed)
    root.put("setup_s", h.setupS)
    val setup = root.putObject("setup")
    h.setupParts.foreach { case (k, v) => setup.put(k, v) }
    val ops = root.putArray("ops")
    h.records.foreach { r =>
      val o = ops.addObject()
      o.put("name", r.name); o.put("ms", r.ms); o.put("ok", r.ok)
      o.put("rows", r.rows); o.put("detail", r.detail)
    }
    val layers = root.putObject("layers")
    h.layers.foreach { case (k, v) => layers.put(k, v) }
    val or = root.putObject("oracles")
    oracles.foreach { case (k, v) => or.put(k, v) }
    Files.writeString(path, m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }
}
