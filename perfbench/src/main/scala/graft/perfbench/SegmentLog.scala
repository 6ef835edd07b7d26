package graft.perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.FakeKafka

/** Broker stand-in for the topic workloads: an in-JVM segmented log of
  * already-encoded payloads, served through the catalog's `kafka` source
  * (`sourceFormat = graft.perfbench.SegmentLog`) with the Kafka connector's
  * frame schema and per-partition `startingOffsets`/`endingOffsets`.
  *
  * Payloads are stored once, as produced; a read copies nothing and decodes
  * nothing, so the program's decode and query work is what the benchmark
  * times. Offsets map to (segment, slot) arithmetically, so serving a range
  * costs the range's length whatever the log's length. Local mode runs the
  * readers in this JVM, which is what lets a JVM-global log serve them.
  */
class SegmentLog extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = FakeKafka.frameSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SegmentLogTable(new CaseInsensitiveStringMap(properties))
}

object SegmentLog {
  val SegmentRecords = 16384

  /** Payload every malformed record carries: its first byte is an invalid
    * union branch for a `union[null, T]` field, so the decoder must drop it.
    */
  val MalformedPayload: Array[Byte] = "!! not avro !!".getBytes("UTF-8")

  /** One partition: append-only, single writer, readers see a prefix. */
  final class Partition {
    @volatile private var segments = new Array[Array[Array[Byte]]](0)
    @volatile private var size = 0L

    def end: Long = size

    def append(value: Array[Byte]): Unit = synchronized {
      val seg = (size / SegmentRecords).toInt
      if (seg == segments.length) {
        // copy-on-write of the segment index: readers keep whatever array
        // they loaded, and every offset below `size` is present in it
        val grown = util.Arrays.copyOf(segments, seg + 1)
        grown(seg) = new Array[Array[Byte]](SegmentRecords)
        segments = grown
      }
      segments(seg)((size % SegmentRecords).toInt) = value
      size += 1
    }

    def get(offset: Long): Array[Byte] =
      segments((offset / SegmentRecords).toInt)((offset % SegmentRecords).toInt)
  }

  private val topics = new ConcurrentHashMap[String, Array[Partition]]()

  def create(topic: String, partitions: Int): Unit =
    topics.put(topic, Array.fill(partitions)(new Partition))

  def partitions(topic: String): Array[Partition] =
    Option(topics.get(topic)).getOrElse(
      throw new IllegalArgumentException(s"no such topic in the segment log: $topic"))
}

final class SegmentLogTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val topic = Option(options.get("subscribe")).getOrElse(
    throw new IllegalArgumentException("segment log needs 'subscribe'"))

  override def name(): String = s"segment-log:$topic"
  override def schema(): StructType = FakeKafka.frameSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new SegmentLogScan(topic, options)
}

final class SegmentLogScan(topic: String, options: CaseInsensitiveStringMap)
    extends Scan with Batch {

  override def readSchema(): StructType = FakeKafka.frameSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"SegmentLogScan $topic" +
      Option(options.get("startingOffsets")).map(s => s" startingOffsets=$s").getOrElse("") +
      Option(options.get("endingOffsets")).map(s => s" endingOffsets=$s").getOrElse("")

  /** One input partition per log partition and offset range, clamped to the
    * log's end at planning time (`"latest"` and missing partitions resolve
    * to that end, as they do against a broker).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    def offsets(key: String): Map[Int, Long] = Option(options.get(key))
      .flatMap(FakeKafka.parseOffsetJson(_, topic)).getOrElse(Map.empty)
    val starts = offsets("startingOffsets")
    val ends = offsets("endingOffsets")
    SegmentLog.partitions(topic).zipWithIndex.flatMap { case (part, p) =>
      val end = part.end
      val s = math.min(end, math.max(0L, starts.getOrElse(p, 0L)))
      val e = math.min(end, ends.getOrElse(p, end))
      if (e <= s) None else Some(SegmentLogPartition(topic, p, s, e): InputPartition)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new SegmentLogReaderFactory
}

final case class SegmentLogPartition(topic: String, partition: Int, start: Long, end: Long)
    extends InputPartition

final class SegmentLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SegmentLogPartition]
    val log = SegmentLog.partitions(p.topic)(p.partition)
    val topic = UTF8String.fromString(p.topic)
    new PartitionReader[InternalRow] {
      private var offset = p.start - 1
      override def next(): Boolean = { offset += 1; offset < p.end }
      override def get(): InternalRow =
        InternalRow(null, log.get(offset), topic, p.partition, offset, offset * 1000L, 0)
      override def close(): Unit = ()
    }
  }
}
