package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The t12 oracle corpus is a single parquet row group (one
  * partition), so the distributed MERGE path of the sketch barely
  * runs there — this spec drives it across 8 partitions with
  * evictions forced (vocab ≫ k) and pins the mergeable-summaries
  * guarantee the oracle gate relies on.
  */
class MisraGriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("every item above the n/(k+1) line survives an 8-partition merge") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val k = 4
    // 1300 items, vocab 202 ≫ k; threshold n/(k+1) = 260:
    // hot1 (400) and hot2 (300) are guaranteed, the 200 cold items
    // (≤ 3 each) force constant evictions in every partition
    val items = Seq.fill(400)("hot1") ++ Seq.fill(300)("hot2") ++
      (0 until 600).map(i => s"cold${i % 200}")
    val shuffled = new scala.util.Random(42).shuffle(items)
    val sketch = spark.sparkContext.parallelize(shuffled, 8).toDS()
      .select(MisraGries(k).toColumn).head()
    assert(sketch.size <= k, s"sketch exceeded $k counters: $sketch")
    assert(sketch.contains("hot1") && sketch.contains("hot2"),
      s"guaranteed heavy hitters missing from $sketch")
  }

  test("single-partition stream eviction keeps the bound too") {
    import spark.implicits._
    val k = 2
    val items = Seq.fill(50)("a") ++ (0 until 30).map(i => s"z$i")
    val sketch = spark.sparkContext.parallelize(items, 1).toDS()
      .select(MisraGries(k).toColumn).head()
    assert(sketch.size <= k)
    assert(sketch.contains("a")) // 50 > 80/3
  }
}
