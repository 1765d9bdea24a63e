package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the dual events-ts decode paths (round-6 postmortem): the
  * fixture's parquet layout has flipped between TIMESTAMP(NANOS)
  * (readable only as a raw long) and TIMESTAMP(MICROS)/NTZ, and the
  * reader must land BOTH on the same session-UTC microsecond
  * timestamps — the silent failure mode was raw microseconds run
  * through the ns→µs truncation, compressing every timestamp 1000×.
  */
class NormalizeTsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  // instants spanning epoch, a round second, and a realistic 2025 µs
  private val micros = Seq(0L, 1000000L, 1755000000123456L)

  test("legacy nanos-as-long and native micros decode to the same instants") {
    import spark.implicits._
    val fromNanos = Tables.normalizeTs(micros.map(_ * 1000L).toDF("ts"))
    val fromNtz = Tables.normalizeTs(
      micros.toDF("us")
        .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts")))
    assert(fromNanos.schema("ts").dataType == TimestampType)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    val a = fromNanos.orderBy(col("ts")).collect().map(_.getTimestamp(0))
    val b = fromNtz.orderBy(col("ts")).collect().map(_.getTimestamp(0))
    assert(a.toSeq == b.toSeq)
    // and the values are the INSTANTS the micros encode, not 1000× off
    assert(a.map(_.toInstant.toEpochMilli).toSeq == micros.map(_ / 1000L))
  }

  test("an already-typed TimestampType column passes through unchanged") {
    import spark.implicits._
    val df = micros.toDF("us").select(timestamp_micros(col("us")).as("ts"))
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.orderBy(col("ts")).collect().map(_.getTimestamp(0).toInstant.toEpochMilli).toSeq
      == micros.map(_ / 1000L))
  }

  test("an unrecognized ts layout fails loudly instead of guessing") {
    import spark.implicits._
    val e = intercept[IllegalStateException] {
      Tables.normalizeTs(Seq("2024-01-01").toDF("ts"))
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("the real fixture reads through the typed branch end-to-end") {
    // whatever layout the CURRENT fixture uses, Tables.events must
    // produce session-UTC timestamps in a plausible era — the exact
    // invariant the streaming replays' era guard enforces
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.schema("ts").dataType == TimestampType)
    val r = ev.agg(
      org.apache.spark.sql.functions.year(org.apache.spark.sql.functions.min(col("ts"))),
      org.apache.spark.sql.functions.year(org.apache.spark.sql.functions.max(col("ts")))).head()
    assert(r.getInt(0) >= 2000 && r.getInt(1) <= 2100,
      s"events.ts decoded to years ${r.getInt(0)}..${r.getInt(1)}")
  }
}
