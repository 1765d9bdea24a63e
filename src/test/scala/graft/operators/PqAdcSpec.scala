package graft.operators

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates for s09's product-quantization ADC search. The
  * corner codebook is a 1-bit-per-dimension quantizer — far coarser
  * than s08's int8 (8 bits/dimension) — so the honest gate is lower
  * than s08's 0.9: the recall gate runs on the sf0.01 corpus (~500
  * vectors; at sf0.001's 48 vectors the 5/N random-overlap floor is
  * 0.10 and the 10x-floor criterion is unsatisfiable by construction)
  * and asserts the code ranking carries real signal — measured 0.36
  * recall@5 vs a 0.01 floor when the gate was set.
  */
class PqAdcSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("s09 ADC top-5 recall@5 beats the random floor by >= 10x vs exact s01") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.01"
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = topk("s01_cosine_topk")
    val pq = topk("s09_ann_pq")
    val recall = exact.keys.toSeq.map { q =>
      (exact(q) & pq.getOrElse(q, Set.empty)).size.toDouble / exact(q).size
    }.sum / exact.size
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val randomFloor = 5.0 / corpus // expected overlap of a random top-5
    assert(recall >= randomFloor * 10,
      s"PQ recall@5 $recall is within 10x of the random floor $randomFloor")
    assert(recall >= 0.25, s"PQ recall@5 degraded to $recall (0.36 when gated)")
  }

  test("s10 IVF-PQ re-rank recovers the cell-exact ranking s03 computes") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.01"
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val ivf = topk("s03_ann_ivf")
    val ivfpq = topk("s10_ann_ivfpq")
    // agreement with the cell-exact search: the ADC top-20 shortlist
    // should almost always contain the true within-cell top-3, making
    // the re-ranked answer identical to s03's
    val agree = ivf.keys.toSeq.map { q =>
      (ivf(q) & ivfpq.getOrElse(q, Set.empty)).size.toDouble / ivf(q).size
    }.sum / ivf.size
    println(s"[s10] agreement with s03 = $agree")
    assert(agree >= 0.8, s"IVF-PQ re-rank agreement with cell-exact s03 degraded to $agree")
    spark.catalog.clearCache()
  }

  test("s09 returns exactly 5 ranked neighbors per query, ranks 1..5") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("s09_ann_pq")(spark, dir).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getAs[Int]("k")).sorted.toSeq == (1 to 5), s"query $q ranks broken")
    }
  }
}
