package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the s25 incremental-ingest properties the full-rebuild hash
  * gate cannot see: drift is EXACTLY zero for cells the delta never
  * touched (the scaled-integer sums make it order-free, so equality
  * is literal, not epsilon), every delta-touched cell's membership
  * grew by exactly its delta rows, and the probe over the merged
  * index matches the probe over a one-shot full build row for row.
  */
class AnnIncrementalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("untouched cells drift exactly 0; touched cells grew by their delta rows") {
    spark.sparkContext.setLogLevel("WARN")
    val (idxPath, _, drift) = AnnKmeans.s25IngestDelta(spark, dir)
    val rows = drift.collect()
    assert(rows.nonEmpty)
    val touched = rows.filter(r => r.getLong(2) > r.getLong(1)) // n_after > n_build
    val untouched = rows.filter(r => r.getLong(2) == r.getLong(1))
    assert(touched.nonEmpty, "no cell received delta rows — fixture cut broken")
    untouched.foreach { r =>
      assert(r.getDouble(3) == 0.0,
        s"cell ${r.getLong(0)}: untouched but drift ${r.getDouble(3)} != 0 " +
          "— the scaled-integer mean lost exactness")
      assert(!r.getBoolean(4), "untouched cell flagged for retrain")
    }
    // total growth across cells == the delta row count (10% tail)
    val n = graft.Tables.embeddings(spark, dir).count()
    val deltaExpected = math.max(1L, n / 10)
    assert(rows.map(r => r.getLong(2) - r.getLong(1)).sum == deltaExpected,
      "per-cell growth does not sum to the delta size")
    // the merged index holds the full corpus exactly once
    assert(spark.read.parquet(idxPath).count() == n)
    // the incremental sums (drift's n_after comes from build+delta
    // arithmetic, never a rescan) agree with the merged index per cell
    val actual = spark.read.parquet(idxPath)
      .groupBy(org.apache.spark.sql.functions.col("cell").cast("long"))
      .count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(actual(r.getLong(0)) == r.getLong(2),
        s"cell ${r.getLong(0)}: incremental n_after ${r.getLong(2)} != " +
          s"merged-index count ${actual(r.getLong(0))}")
    }
  }

  test("the merged index serves the same top-k as a one-shot full build") {
    spark.sparkContext.setLogLevel("WARN")
    val (incIdx, incCent, _) = AnnKmeans.s25IngestDelta(spark, dir)
    val (fullIdx, fullCent) = AnnKmeans.s24BuildIndex(spark, dir, 8)
    val inc = AnnKmeans.s24Probe(spark, dir, incIdx, incCent).collect()
    val full = AnnKmeans.s24Probe(spark, dir, fullIdx, fullCent).collect()
    assert(inc.length == full.length && inc.sameElements(full),
      "incremental-ingest probe diverged from the full rebuild")
  }
}
