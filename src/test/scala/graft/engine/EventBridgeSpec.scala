package graft.engine

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import EValue._

class EventBridgeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  test("typed rows become dynamic events with event_type as $topic") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 2.5, """{"k": 3}""")),
      schema)
    val e = EventBridge.fromEventsTable(df).collect().head
    assert(e.topic.contains("click"))
    assert(e.get("event_id").contains(EInt(1)))
    assert(e.get("value").contains(EFloat(2.5)))
    assert(e.get("props").contains(EStr("""{"k": 3}""")))
  }

  test("null columns map to nil fields, never NPE downstream") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(2L, null, null, null, null, null)),
      schema)
    val e = EventBridge.fromEventsTable(df).collect().head
    assert(e.get("props").contains(ENil))
    assert(e.get("user_id").contains(ENil))
    assert(e.topic.isEmpty) // nil $topic reads as "no topic" (passes filters)
    // and the codec round trip survives the nil fields
    val rt = EventCodec.roundTrip(e)
    assert(rt.get("event_id").contains(EInt(2)))
  }
}
