package graft.operators

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates for the int8 quantization pair: s07's reconstruction
  * error must honor the nearest-int bound, and s08's search over the
  * dequantized store must still find (almost all of) the exact
  * neighbors — the property that makes the 4×-smaller store usable.
  */
class Int8QuantSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("s07 reconstruction error is bounded by scale/2 on every vector") {
    spark.sparkContext.setLogLevel("WARN")
    val over = SparkEntry.queries("s07_quantize_int8")(spark, dir)
      .filter(col("max_abs_err") > col("scale") / 2 + 1e-12)
      .count()
    assert(over == 0, s"$over vectors violate the nearest-int error bound")
  }

  test("s08 dequantized top-5 recall@5 >= 0.9 vs the exact s01 index") {
    spark.sparkContext.setLogLevel("WARN")
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = topk("s01_cosine_topk")
    val dequant = topk("s08_dequant_topk")
    val recall = exact.keys.toSeq.map { q =>
      (exact(q) & dequant.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }.sum / exact.size
    assert(recall >= 0.9, s"int8 recall@5 degraded to $recall")
  }
}
