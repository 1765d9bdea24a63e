package graft.operators

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates for the 8× (int4 nibble-packed) tier of the
  * compression ladder: the packed bytes must be genuine 4-bit pairs
  * (every byte's two nibbles in the biased [1, 15] range — i.e. codes
  * in [−7, 7]), and the search over vectors unpacked FROM those bytes
  * must still recover most of the exact neighbors. Recall tolerance
  * is looser than int8's (15 levels per dim vs 255), but must stay
  * well above chance — the property that makes the 8×-smaller store
  * usable as a shortlist tier.
  */
class Int4QuantSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("s20 top-5 recall@5 >= 0.7 vs the exact s01 index") {
    spark.sparkContext.setLogLevel("WARN")
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = topk("s01_cosine_topk")
    val int4 = topk("s20_int4_pack")
    val recall = exact.keys.toSeq.map { q =>
      (exact(q) & int4.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }.sum / exact.size
    assert(recall >= 0.7, s"int4 recall@5 degraded to $recall")
  }

  test("every packed byte holds two biased nibbles in [1, 15]") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // rebuild the packed artifact exactly as s20 does and check range
    val base = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("amax"))
    val codes = base.select(col("vec_id"),
      when(col("amax") === 0, transform(col("embedding"), _ => lit(0L)))
        .otherwise(transform(col("embedding"),
          x => floor(x.cast("double") * 7.0 / col("amax") + 0.5).cast("long")))
        .as("codes"))
    val bad = codes
      .select(explode(expr(
        "transform(sequence(0, 31), i -> " +
          "(element_at(codes, 2 * i + 1) + 8) * 16 + (element_at(codes, 2 * i + 2) + 8))"))
        .as("b"))
      .filter(col("b") % 16 === 0 || col("b") % 16 > 15 ||
        (col("b").cast("long") / 16).cast("long") < 1 ||
        (col("b").cast("long") / 16).cast("long") > 15 ||
        col("b") < 17 || col("b") > 255)
      .count()
    assert(bad == 0, s"$bad packed bytes fall outside the two-nibble range")
    // and the vector really is 32 bytes: 8x vs the 256-byte float32 row
    val n = codes.select(size(col("codes"))).as[Int].head()
    assert(n == 64, s"expected 64 dims, got $n")
  }
}
