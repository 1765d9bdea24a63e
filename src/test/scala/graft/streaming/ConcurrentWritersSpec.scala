package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the q95 properties the hash gate cannot see: at least one
  * lost-slot retry actually occurred (the race is real, not two
  * writers that happened to serialize), and the concurrently-written
  * table is row-for-row identical to q94's single-writer serial run
  * on the same fixture — the serializability contract, observed from
  * outside the query.
  */
class ConcurrentWritersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("two racing writers lose at least one slot and merge to the serial result") {
    val (merged, lostSlots) =
      graft.operators.StreamReplay.concurrentTxlogWriters(spark, dir, nChunks = 4)
    assert(lostSlots >= 1, "no commit-slot contention was observed")
    val concurrent = merged.collect()
    val serial = graft.operators.StreamReplay
      .streamIngestTxlogAppend(spark, dir, nChunks = 4).collect()
    assert(concurrent.length == serial.length && concurrent.sameElements(serial),
      s"concurrent table (${concurrent.length} rows) diverged from the " +
        s"serial single-writer table (${serial.length} rows)")
  }
}
