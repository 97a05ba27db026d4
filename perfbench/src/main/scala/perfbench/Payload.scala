package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length, upper}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** One input message: an id, the offset of its due time from the
  * schedule's start, and lowercase text. */
final case class Msg(id: Long, dueMicros: Long, text: String) {
  def bytes: Array[Byte] = s"""{"id":$id,"due":$dueMicros,"text":"$text"}""".getBytes(UTF_8)
  /** The enriched output the stream transform must produce for this
    * message, byte for byte as `to_json` writes it. */
  def expected: Array[Byte] =
    s"""{"id":$id,"due":$dueMicros,"text":"${text.toUpperCase(Locale.ROOT)}","len":${text.length}}"""
      .getBytes(UTF_8)
}

/** The streaming workloads' messages (about 120 B of JSON each) and the
  * small projection transform that plays the reference's `processor`. */
object Payload {
  val schema: StructType = new StructType()
    .add("id", LongType).add("due", LongType).add("text", StringType)

  def transform(df: DataFrame): DataFrame =
    df.select(col("payload.id").as("id"), col("payload.due").as("due"),
      upper(col("payload.text")).as("text"), length(col("payload.text")).as("len"))

  private val words = Vector(
    "pubsub", "message", "stream", "batch", "order", "event", "click", "user",
    "session", "enrich", "publish", "ack", "topic", "queue", "spark", "latency",
    "window", "record", "payload", "schema", "region", "device", "price", "item")

  /** Text of 70 to 90 characters drawn from `rnd`. */
  def text(rnd: java.util.Random): String = {
    val target = 70 + rnd.nextInt(21)
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(words(rnd.nextInt(words.size)))
    }
    sb.toString
  }

  /** `n` messages with ids `firstId until firstId + n`, all due at 0. */
  def backlog(rnd: java.util.Random, firstId: Long, n: Int): IndexedSeq[Msg] =
    (0 until n).map(i => Msg(firstId + i, 0L, text(rnd)))

  /** Schedule origin (`System.nanoTime`) that message due offsets count
    * from; read by the bus decorator to measure read lag. */
  @volatile var baseNanos: Long = 0L

  private def longField(b: Array[Byte], key: String): Long = {
    val k = key.getBytes(UTF_8)
    var i = 0
    var found = -1
    while (found < 0 && i + k.length <= b.length) {
      var j = 0
      while (j < k.length && b(i + j) == k(j)) j += 1
      if (j == k.length) found = i + k.length else i += 1
    }
    if (found < 0) Long.MinValue
    else {
      var v = 0L
      var p = found
      while (p < b.length && b(p) >= '0' && b(p) <= '9') { v = v * 10 + (b(p) - '0'); p += 1 }
      if (p == found) Long.MinValue else v
    }
  }

  /** The `id` of an input or output message; `Long.MinValue` if absent. */
  def idOf(b: Array[Byte]): Long = longField(b, "{\"id\":")

  def dueNanos(b: Array[Byte]): Long = {
    val d = longField(b, "\"due\":")
    if (d == Long.MinValue || baseNanos == 0L) 0L else baseNanos + d * 1000L
  }
}
