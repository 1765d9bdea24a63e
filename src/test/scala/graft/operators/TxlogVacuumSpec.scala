package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the c32 vacuum branches the hash gate cannot see: the exact
  * GC set (only files referenced by NO retained version — bucket 5's
  * pre-image must SURVIVE although v4 rewrote it, because retained v3
  * still references it), and the pre-horizon time-travel read failing
  * loudly with the horizon in the message instead of a dangling
  * FileNotFound mid-scan.
  */
class TxlogVacuumSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("vacuum deletes exactly the files no retained version references") {
    spark.sparkContext.setLogLevel("WARN")
    val (out, dead, readVersion) = Curation.c32Run(spark, dir)
    // buckets 3 and 7 are referenced only by v0-v2 (pre-horizon);
    // bucket=5's pre-image is referenced by retained v3 and survives
    assert(dead == Seq("bucket=3", "bucket=7"), s"GC set was $dead")
    // both retained versions still read back after physical deletion
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq == Seq(3L, 4L))
    // v3 still serves bucket 5's PRE-image (no 'u5:' prefix digest
    // drift): its bucket-5 row differs from v4's
    val b5 = rows.filter(_.getLong(1) == 5L)
    assert(b5.length == 2 && b5.map(_.getLong(3)).distinct.length == 2,
      "v3 and v4 must disagree on bucket 5 (COW update) — pre-image lost?")
    // the pre-horizon read fails loudly, naming the horizon
    val e = intercept[IllegalStateException] { readVersion(2) }
    assert(e.getMessage.contains("v2") && e.getMessage.contains("v3"),
      e.getMessage)
    // ... and so does v0 (whose files truly are gone)
    intercept[IllegalStateException] { readVersion(0) }
  }
}
