package graft.streaming

import java.nio.file.Files

import graft.operators.StreamReplay
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the era-guard's RETRY semantics (round-8 advice item): the
  * guard memoizes per (dir, source fingerprint) and only AFTER the
  * check passes. The two failure modes this closes:
  *
  *  1. memoize-before-check: a transient failure would be recorded as
  *     "checked" and every retry silently skipped the guard — the
  *     second call here must fail just as loudly as the first;
  *  2. path-only keying: the driver regenerates /root/testdata
  *     mid-JVM between rounds (the exact drift that produced the
  *     round-6 silent 1000× timestamp compression), and a guard keyed
  *     only on the path would keep trusting a fixture that has since
  *     been swapped for a bad one — regenerating the SAME directory
  *     with bad-era data must re-trip the guard.
  */
class EraGuardSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  /** Writes `$dir/events.parquet` whose ts column lands in `year`. */
  private def writeEvents(dir: String, year: Int): Unit = {
    import spark.implicits._
    val base = java.time.OffsetDateTime
      .of(year, 6, 1, 0, 0, 0, 0, java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000L
    (0L until 10L).map(i => base + i * 1000000L).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("a bad-era fixture fails on EVERY call, not just the first") {
    val dir = Files.createTempDirectory("graft-era-retry").toFile.getAbsolutePath
    writeEvents(dir, 1975) // pre-2000: implausible era
    val e1 = intercept[IllegalArgumentException] {
      StreamReplay.assertEventsEra(spark, dir)
    }
    assert(e1.getMessage.contains("1975"))
    // the retry must NOT be suppressed by a memoized failure
    val e2 = intercept[IllegalArgumentException] {
      StreamReplay.assertEventsEra(spark, dir)
    }
    assert(e2.getMessage.contains("1975"))
  }

  test("a regenerated fixture in the SAME dir is re-checked (fingerprint keying)") {
    val dir = Files.createTempDirectory("graft-era-regen").toFile.getAbsolutePath
    writeEvents(dir, 2025)
    StreamReplay.assertEventsEra(spark, dir) // passes and memoizes
    StreamReplay.assertEventsEra(spark, dir) // memoized fast-path, still fine
    // mid-JVM regeneration with a bad era: new part files => new
    // fingerprint => the guard must re-run and trip, not trust the
    // stale pass recorded for this path
    writeEvents(dir, 1975)
    val e = intercept[IllegalArgumentException] {
      StreamReplay.assertEventsEra(spark, dir)
    }
    assert(e.getMessage.contains("1975"))
    // and regenerating a GOOD fixture clears it again
    writeEvents(dir, 2030)
    StreamReplay.assertEventsEra(spark, dir)
  }
}
