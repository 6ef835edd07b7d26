package graft.perfbench

import java.nio.ByteBuffer

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{col, length, sum}

import graft.catalog.{FileMetastore, SystemColumns}
import graft.functions.{AvroDecode, AvroEncode, AvroSchemas}
import graft.plans.{OffsetRange, OffsetRangePlanner}
import graft.sources.KafkaEventSink

/** The two topic workloads: SQL through the metastore catalog over a wide
  * Avro topic served by [[SegmentLog]].
  *
  * `topic_scan` aggregates the whole topic with fresh SQL text per
  * operation; `topic_tail` produces a batch through the program's sink and
  * then queries an `_offset` window that holds it. Answers are checked
  * against closed-form aggregates of [[Events]].
  */
final class Topic(h: Harness) {
  import Events._

  private val spark = h.spark
  private val topic = SystemColumns.topicFor(Project, Collection)
  /** Records in the topic before the timed region. */
  val InitialRecords = 1L << 17
  /** Records one `topic_tail` operation produces (a multiple of Partitions). */
  val TailBatch = 2000
  /** Untimed rounds before timing, so that most of the JIT warm-up of the
    * decode and planner paths falls outside the timed region (4 vCPUs:
    * per-round time falls steeply over the first rounds, then slowly).
    */
  val ScanWarmupRounds = 4
  val TailWarmupRounds = 5

  /** Metastore collection plus the initial log, produced in chunks. */
  def prepare(metastoreDir: String): Unit = {
    new FileMetastore(metastoreDir).createCollection(Project, Collection, fields)
    SegmentLog.create(topic, Partitions)
    val chunk = 1L << 18
    (0L until InitialRecords by chunk).foreach(s => produce(s, math.min(InitialRecords, s + chunk)))
  }

  /** Encode events `[from, until)` with `KafkaEventSink.toKafkaFrame` and
    * append them to the log in id order, replacing the seeded malformed
    * share with garbage as a misbehaving producer would.
    */
  def produce(from: Long, until: Long): Unit = {
    val seed = h.seed
    val df =
      if (until - from > 10000)
        spark.createDataFrame(
          spark.sparkContext.range(from, until, numSlices = spark.sparkContext.defaultParallelism)
            .map(id => row(event(seed, id))), rowSchema)
      else spark.createDataFrame((from until until).map(id => row(event(seed, id))).asJava, rowSchema)
    val frame = KafkaEventSink.toKafkaFrame(df, Project, Collection, "id").select("key", "value")
    val parts = SegmentLog.partitions(topic)
    frame.collect().foreach { r =>
      val id = ByteBuffer.wrap(r.getAs[Array[Byte]](0)).getLong
      val part = parts(partitionOf(id))
      require(part.end == offsetOf(id), s"out-of-order append of event $id")
      part.append(if (malformed(seed, id)) SegmentLog.MalformedPayload else r.getAs[Array[Byte]](1))
    }
  }

  def logRecords: Long = SegmentLog.partitions(topic).map(_.end).sum

  /** Runs `text` as one operation; traced runs split it at plan phases. */
  def runSql(text: String): DataFrame = {
    val df = Trace.span("plans.analyze")(spark.sql(text))
    if (Trace.enabled) {
      Trace.span("plans.optimize")(df.queryExecution.optimizedPlan)
      Trace.span("plans.physical")(df.queryExecution.executedPlan)
    }
    df
  }

  // ---- traced plan-shape counts, taken after the operation ----
  private val counts = mutable.Map.empty[String, mutable.Map[Int, Double]]
  private def count(name: String, op: Int, v: Double): Unit =
    counts.getOrElseUpdate(name, mutable.Map.empty)(op) = v

  /** Plan shape, rows read and the raw-read floor for one finished query
    * whose true window is `window` (the whole log for `topic_scan`).
    */
  def traceQuery(op: Int, df: DataFrame, window: Seq[OffsetRange]): Unit = {
    val plan = Harness.nodes(df.queryExecution.executedPlan)
    val scans = plan.collect { case b: BatchScanExec if b.scan.isInstanceOf[SegmentLogScan] => b }
    Trace.span("plans.shape") {
      // KafkaEventSource plans one log scan per offset range
      count("plans.offset_ranges", op, scans.size)
      val decodes = plan.flatMap(_.expressions.flatMap(_.collect { case d: AvroDecode => d }))
      count("plans.decode_exprs", op, decodes.size)
      count("plans.decode_fields", op, decodes.map(d =>
        new org.apache.avro.Schema.Parser().parse(d.readerSchemaJson).getFields.size).sum)
    }
    Trace.span("sources.rows") {
      val read = scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      count("sources.records_read", op, read)
      val inWindow = windowRecords(window)
      count("sources.read_amplification", op, if (inWindow == 0) 0.0 else read.toDouble / inWindow)
    }
    Trace.span("sources.raw_read")(rawRead(window))
  }

  /** Records the log holds inside `ranges`. */
  def windowRecords(ranges: Seq[OffsetRange]): Long =
    SegmentLog.partitions(topic).map { p =>
      ranges.map(r => math.max(0L, math.min(p.end, r.end.getOrElse(p.end)) - math.min(p.end, r.start))).sum
    }.sum

  /** The stand-in serving `ranges` with no decode: the floor under a scan. */
  private def rawRead(ranges: Seq[OffsetRange]): Long =
    ranges.map { r =>
      val (s, e) = OffsetRangePlanner.kafkaOffsetJson(topic, Partitions, r)
      spark.read.format(classOf[SegmentLog].getName).option("subscribe", topic)
        .option("startingOffsets", s).option("endingOffsets", e).load()
        .select(sum(length(col("value")))).collect().head.getLong(0)
    }.sum

  def recordTraceLayers(): Unit = {
    counts.foreach { case (name, byOp) => h.layers(name) = h.meanOver(byOp.toMap) }
    Seq("plans.analyze", "plans.optimize", "plans.physical", "catalog.load_table",
      "sources.raw_read", "sources.produce").foreach { s =>
      h.layers(s + "_ms") = h.meanOver(Trace.msByOp(s))
    }
    kernels()
  }

  /** Avro kernels over payloads already in memory, outside Spark. */
  private def kernels(): Unit = {
    val writer = AvroSchemas.toAvro(
      org.apache.spark.sql.types.StructType(fields.map(_.toStructField)), Collection)
    val one = AvroSchemas.project(writer, Seq("event_type"))
    val rows = SegmentLog.partitions(topic).flatMap(part => (0L until part.end).map(part.get))
      .filter(_ ne SegmentLog.MalformedPayload).map(p => org.apache.spark.sql.catalyst.InternalRow(p))
    def decoder(reader: org.apache.avro.Schema) = AvroDecode(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.BinaryType, nullable = true), writer.toString, reader.toString)
    val (full, oneField) = (decoder(writer), decoder(one))
    def pass(span: String, d: AvroDecode): Long =
      Trace.span(span) { val t = System.nanoTime(); rows.foreach(d.eval); System.nanoTime() - t }
    // interleaved passes, best of three each, so JIT state favours neither
    val times = Seq.fill(4)((pass("functions.avro_decode_full", full),
      pass("functions.avro_decode_1field", oneField))).tail
    h.layers("functions.avro_decode_ns_per_record_full") = times.map(_._1).min.toDouble / rows.length
    h.layers("functions.avro_decode_ns_per_record_1field") = times.map(_._2).min.toDouble / rows.length
    val st = rowSchema.fields.tail
    val enc = AvroEncode(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.StructType(st), nullable = false), writer.toString)
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(org.apache.spark.sql.types.StructType(st))
    val inputs = (0L until 50000L).map { id =>
      org.apache.spark.sql.catalyst.InternalRow(conv(Row.fromSeq(row(event(h.seed, id)).toSeq.tail)))
    }.toArray
    def encodeNs(): Long =
      Trace.span("functions.avro_encode") { val t = System.nanoTime(); inputs.foreach(enc.eval); System.nanoTime() - t }
    encodeNs()
    h.layers("functions.avro_encode_ns_per_record") = Seq.fill(3)(encodeNs()).min.toDouble / inputs.length
  }

  // ---------------------------------------------------------------- scan
  private val scanTemplates: IndexedSeq[Int => String] = IndexedSeq(
    _ => s"SELECT count(1) AS n FROM $Table",
    k => s"SELECT event_type, count(1) AS n FROM $Table WHERE event_type <> '${EventTypes(k % EventTypes.size)}' GROUP BY event_type",
    k => s"SELECT country, count(DISTINCT user_id) AS users FROM $Table GROUP BY country HAVING count(1) > ${k % 7}",
    k => s"SELECT device, os, sum(revenue) AS rev FROM $Table WHERE os <> '${Oses(k % Oses.size)}' GROUP BY device, os",
    k => s"SELECT count(DISTINCT session_id) AS sessions FROM $Table WHERE browser = '${Browsers(k % Browsers.size)}'",
    k => s"SELECT browser, count(1) AS n FROM $Table WHERE is_new AND browser <> '${Browsers(k % Browsers.size)}' GROUP BY browser")

  /** Closed-form aggregates over the whole initial topic. */
  private final class Totals {
    var n = 0L
    val byType = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val usersByCountry = mutable.Map.empty[String, mutable.Set[Long]]
    val rowsByCountry = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val revenue = mutable.Map.empty[(String, String), Double]
    val sessionsByBrowser = mutable.Map.empty[String, mutable.Set[String]]
    val newByBrowser = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }

  private lazy val totals: Totals = {
    val t = new Totals
    var id = 0L
    while (id < InitialRecords) {
      if (!malformed(h.seed, id)) {
        val e = event(h.seed, id)
        t.n += 1
        t.byType(e.eventType) += 1
        t.usersByCountry.getOrElseUpdate(e.country, mutable.Set.empty) += e.userId
        t.rowsByCountry(e.country) += 1
        if (e.revenue != null)
          t.revenue((e.device, e.os)) = t.revenue.getOrElse((e.device, e.os), 0.0) + e.revenue
        t.sessionsByBrowser.getOrElseUpdate(e.browser, mutable.Set.empty) += e.sessionId
        if (e.isNew) t.newByBrowser(e.browser) += 1
      }
      id += 1
    }
    t
  }

  private def expectedScan(template: Int, k: Int): Seq[Seq[Any]] = {
    val t = totals
    template match {
      case 0 => Seq(Seq(t.n))
      case 1 => t.byType.toSeq.filter(_._1 != EventTypes(k % EventTypes.size)).map(p => Seq(p._1, p._2))
      case 2 => t.usersByCountry.toSeq.filter(c => t.rowsByCountry(c._1) > k % 7)
        .map(c => Seq(c._1, c._2.size.toLong))
      case 3 => t.revenue.toSeq.filter(_._1._2 != Oses(k % Oses.size))
        .map { case ((d, o), r) => Seq(d, o, r) }
      case 4 => Seq(Seq(t.sessionsByBrowser.get(Browsers(k % Browsers.size)).map(_.size.toLong).getOrElse(0L)))
      case 5 => t.newByBrowser.toSeq.filter(_._1 != Browsers(k % Browsers.size)).map(p => Seq(p._1, p._2))
    }
  }

  def scan(): Unit = {
    var k = 0
    var last: (DataFrame, Seq[Row], Int, Int) = null
    def op(template: Int): Int => Long = _ => {
      val df = runSql(scanTemplates(template)(k))
      val rows = Trace.span("exec")(df.collect()).toSeq
      last = (df, rows, template, k)
      k += 1
      rows.size
    }
    val round = scanTemplates.indices.map(t => s"scan$t" -> op(t))
    h.setupParts("setup.warmup_s") = h.warmUp(Seq.fill(ScanWarmupRounds)(round).flatten)
    val answers = mutable.Map.empty[Int, (Seq[Row], Int, Int)]
    h.loop(round) { (rec, done) =>
      if (done.isDefined) {
        val (df, rows, template, kk) = last
        answers(rec.id) = (rows, template, kk)
        if (Trace.enabled) traceQuery(rec.id, df, OffsetRangePlanner.Full)
      }
    }
    // the closed form needs one pass over the topic; it runs after timing
    h.records.foreach { r =>
      answers.get(r.id).foreach { case (rows, template, kk) =>
        Check.rows(rows, expectedScan(template, kk)).foreach(h.fail(r, _))
      }
    }
  }

  // ---------------------------------------------------------------- tail
  private var produced = InitialRecords

  /** The `_offset` window of tail query `template` around the batch at
    * offsets `[a, b)`, as SQL and as the ranges it denotes.
    */
  private def window(template: Int, a: Long, b: Long): (String, Seq[OffsetRange]) = template match {
    case 0 => (s"_offset >= ${a - 375} AND _offset < $b", Seq(OffsetRange(a - 375, Some(b))))
    case 1 => (s"(_offset >= $a AND _offset < $b) OR (_offset >= ${a - 1500} AND _offset < ${a - 1250})",
      Seq(OffsetRange(a - 1500, Some(a - 1250)), OffsetRange(a, Some(b))))
    case 2 =>
      val picks = (1 to 4).map(i => a - 397L * i)
      (s"_offset BETWEEN $a AND ${b - 1} OR _offset IN (${picks.mkString(", ")})",
        picks.sorted.map(o => OffsetRange(o, Some(o + 1))) :+ OffsetRange(a, Some(b)))
    case 3 => (s"_offset >= $a AND _offset <= ${b - 1}", Seq(OffsetRange(a, Some(b))))
  }

  private val tailQueries: IndexedSeq[String => String] = IndexedSeq(
    w => s"SELECT event_type, count(1) AS n, count(DISTINCT user_id) AS users FROM $Table WHERE $w GROUP BY event_type",
    w => s"SELECT country, sum(revenue) AS rev, count(1) AS n FROM $Table WHERE $w GROUP BY country",
    w => s"SELECT count(1) AS n, max(time_ms) AS last_ms, count(DISTINCT session_id) AS sessions FROM $Table WHERE $w",
    w => s"SELECT device, count(1) AS n FROM $Table WHERE $w GROUP BY device")

  private def expectedTail(template: Int, ranges: Seq[OffsetRange]): Seq[Seq[Any]] = {
    val events = for {
      r <- ranges; o <- r.start until r.end.get; p <- 0 until Partitions
      id = idOf(p, o) if id < produced && !malformed(h.seed, id)
    } yield event(h.seed, id)
    template match {
      case 0 => events.groupBy(_.eventType).toSeq.map { case (t, es) =>
        Seq(t, es.size.toLong, es.map(_.userId).distinct.size.toLong) }
      case 1 => events.groupBy(_.country).toSeq.map { case (c, es) =>
        val rev = es.flatMap(e => Option(e.revenue).map(_.doubleValue))
        Seq(c, if (rev.isEmpty) null else rev.sum, es.size.toLong) }
      case 2 => Seq(Seq(events.size.toLong,
        if (events.isEmpty) null else events.map(_.timeMs).max,
        events.map(_.sessionId).distinct.size.toLong))
      case 3 => events.groupBy(_.device).toSeq.map { case (d, es) => Seq(d, es.size.toLong) }
    }
  }

  def tail(): Unit = {
    var last: (DataFrame, Seq[Row], Int, Seq[OffsetRange]) = null
    def op(template: Int): Int => Long = _ => {
      val from = produced
      Trace.span("sources.produce")(produce(from, from + TailBatch))
      produced = from + TailBatch
      val (w, ranges) = window(template, offsetOf(from), offsetOf(from + TailBatch))
      val df = runSql(tailQueries(template)(w))
      val rows = Trace.span("exec")(df.collect()).toSeq
      last = (df, rows, template, ranges)
      rows.size
    }
    def check(): Option[String] = {
      val (_, rows, template, ranges) = last
      Check.rows(rows, expectedTail(template, ranges))
    }
    val round = tailQueries.indices.map(t => s"tail$t" -> op(t))
    h.setupParts("setup.warmup_s") = h.warmUp(Seq.fill(TailWarmupRounds)(round).flatten)
    produced = logRecords
    h.loop(round) { (rec, done) =>
      if (done.isDefined) {
        check().foreach(h.fail(rec, _))
        if (Trace.enabled) traceQuery(rec.id, last._1, last._4)
      } else produced = math.max(produced, logRecords)
    }
  }
}

/** Order-insensitive comparison of result rows with expected rows. */
object Check {
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
    case (x: java.lang.Number, y: java.lang.Number) if !x.isInstanceOf[Double] && !y.isInstanceOf[Double] =>
      x.longValue == y.longValue
    case _ => a == b
  }

  def rows(got: Seq[Row], want: Seq[Seq[Any]]): Option[String] = {
    val g = got.map(_.toSeq).sortBy(_.mkString("|"))
    val w = want.sortBy(_.mkString("|"))
    if (g.size != w.size) Some(s"${g.size} rows, expected ${w.size}")
    else g.zip(w).collectFirst {
      case (x, y) if x.size != y.size || !x.zip(y).forall { case (a, b) => same(a, b) } =>
        s"row ${x.mkString("(", ", ", ")")}, expected ${y.mkString("(", ", ", ")")}"
    }
  }
}
