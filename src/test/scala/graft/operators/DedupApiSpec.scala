package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The dropDuplicates API surface (SURVEY.md §2C Dedup row) next to
  * the deterministic groupBy dedup the oracle queries use.
  */
class DedupApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("dropDuplicates keeps one row per key combination") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val deduped = docs.dropDuplicates("lang", "source")
    assert(deduped.count() == docs.select("lang", "source").distinct().count())
    // full-row dedup is a no-op on a table with unique ids
    assert(docs.dropDuplicates().count() == docs.count())
  }

  test("deterministic keeper (min id per key) matches d01's contract") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val keepers = docs.groupBy(col("lang"), col("source"))
      .agg(min(col("doc_id")).as("keep_id"))
    // every keeper really is the minimum of its group
    val joined = keepers.join(docs, Seq("lang", "source"))
      .filter(col("doc_id") < col("keep_id"))
    assert(joined.count() == 0)
  }
}
