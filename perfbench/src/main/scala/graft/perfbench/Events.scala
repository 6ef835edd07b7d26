package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.catalog.{FieldType, SchemaField}

/** The seeded Rakam-style event generator behind both topic workloads.
  *
  * Every field of event `id` is a pure function of `(seed, id)`, so the
  * benchmark can produce any stretch of the topic on demand and compute any
  * query's expected answer in closed form, without asking the program.
  * Record `id` lives in log partition `id % Partitions` at offset
  * `id / Partitions`.
  */
final case class Event(
    id: Long, timeMs: Long, userId: Long, sessionId: String, eventType: String,
    url: String, referrer: String, country: String, device: String, os: String,
    browser: String, revenue: java.lang.Double, isNew: Boolean)

object Events {
  val Project = "rakam"
  val Collection = "pageview"
  val Table = s"graft.$Project.$Collection"
  val Partitions = 16
  /** Malformed payloads per million records. */
  val MalformedPerMillion = 5000

  val EventTypes = IndexedSeq("pageview", "click", "scroll", "search", "signup", "login",
    "purchase", "logout")
  val Countries = IndexedSeq("US", "DE", "FR", "GB", "TR", "BR", "IN", "JP", "CN", "CA",
    "ES", "IT", "NL", "SE", "PL", "MX", "KR", "AU", "RU", "AR")
  val Devices = IndexedSeq("desktop", "mobile", "tablet")
  val Oses = IndexedSeq("linux", "windows", "macos", "android", "ios")
  val Browsers = IndexedSeq("chrome", "firefox", "safari", "edge", "opera", "other")

  /** The collection's 12 user fields as the metastore stores them. */
  val fields: Seq[SchemaField] = Seq(
    SchemaField("time_ms", FieldType.LONG),
    SchemaField("user_id", FieldType.LONG),
    SchemaField("session_id", FieldType.STRING),
    SchemaField("event_type", FieldType.STRING),
    SchemaField("url", FieldType.STRING),
    SchemaField("referrer", FieldType.STRING),
    SchemaField("country", FieldType.STRING),
    SchemaField("device", FieldType.STRING),
    SchemaField("os", FieldType.STRING),
    SchemaField("browser", FieldType.STRING),
    SchemaField("revenue", FieldType.DOUBLE),
    SchemaField("is_new", FieldType.BOOLEAN))

  /** Producer-side frame schema: the key column, then the user fields. */
  val rowSchema: StructType =
    StructType(StructField("id", LongType, nullable = false) +: fields.map(_.toStructField))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def draw(seed: Long, id: Long, field: Int, n: Int): Int =
    java.lang.Math.floorMod(mix(mix(seed * 1000003L + field) ^ id), n.toLong).toInt

  def event(seed: Long, id: Long): Event = {
    val eventType = EventTypes(draw(seed, id, 3, EventTypes.size))
    val userId = draw(seed, id, 1, 50000).toLong
    Event(
      id = id,
      timeMs = 1700000000000L + id * 37L + draw(seed, id, 0, 1000),
      userId = userId,
      sessionId = f"${userId}%05d-${draw(seed, id, 2, 64)}%02d",
      eventType = eventType,
      url = s"/p/${draw(seed, id, 4, 2000)}",
      referrer = { val r = draw(seed, id, 5, 100); if (r < 30) null else s"https://r${r % 50}.example/" },
      country = Countries(draw(seed, id, 6, Countries.size)),
      device = Devices(draw(seed, id, 7, Devices.size)),
      os = Oses(draw(seed, id, 8, Oses.size)),
      browser = Browsers(draw(seed, id, 9, Browsers.size)),
      revenue = if (eventType == "purchase") draw(seed, id, 10, 100000) / 100.0 else null,
      isNew = draw(seed, id, 11, 5) == 0)
  }

  def malformed(seed: Long, id: Long): Boolean = draw(seed, id, 12, 1000000) < MalformedPerMillion

  def row(e: Event): Row = Row(e.id, e.timeMs, e.userId, e.sessionId, e.eventType, e.url,
    e.referrer, e.country, e.device, e.os, e.browser, e.revenue, e.isNew)

  def partitionOf(id: Long): Int = (id % Partitions).toInt
  def offsetOf(id: Long): Long = id / Partitions
  def idOf(partition: Int, offset: Long): Long = offset * Partitions + partition
}
