package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One spec entry per registered operator: every SparkEntry query
  * must run end-to-end on sf0.001 and (for non-degenerate cases)
  * produce rows. The DuckDB hash-compare itself is driver-run
  * (Verify + oracle_sql.json); this suite is the fast in-repo gate.
  */
class QueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  // queries whose result is legitimately empty/small at sf0.001
  private val mayBeEmpty = Set("d03_lsh_near_dup", "d04_simhash_near_dup",
    "d06_embedding_near_dup", "q53_except", "t10_contamination")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs on sf0.001") {
      spark.sparkContext.setLogLevel("WARN")
      val n = fn(spark, dir).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
