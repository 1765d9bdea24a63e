package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q22's HLL sketches have no cross-engine oracle (rows-only check);
  * this spec pins their accuracy contract instead: within the
  * configured 2% standard error (×3 for slack) of the exact counts.
  */
class ApproxAccuracySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  test("approx_count_distinct tracks exact distinct counts within tolerance") {
    val dir = "/root/testdata/sf0.01"
    val approx = SparkEntry.queries("q22_approx_distinct")(spark, dir).head()
    val exact = SparkEntry.queries("q21_count_distinct")(spark, dir).head()
    val pairs = Seq(
      (approx.getLong(0), exact.getLong(0)), // suppkey
      (approx.getLong(1), exact.getLong(1)), // partkey
      (approx.getLong(2), exact.getLong(2))) // orderkey
    pairs.foreach { case (a, e) =>
      val rel = math.abs(a.toDouble - e.toDouble) / e.toDouble
      assert(rel <= 0.06, s"approx $a vs exact $e: relative error $rel > 6%")
    }
  }
}
