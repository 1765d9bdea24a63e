package graft.operators

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality + plan gates for s26's TRAINED product quantization. The
  * oracle hash already proves engine-identical arithmetic; these pin
  * what the hash can't: the trained 3-bit-per-subspace codes carry
  * real ranking signal against the EXACT dot-product ranking (the
  * s09 PqAdcSpec discipline — gate vs the random floor, then a fixed
  * floor just under the measured value), and the encoding path stays
  * a zero-shuffle projection (the property that makes a 100 TB
  * encode one linear pass).
  */
class AnnPqSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.01"

  test("s26 ADC top-10 recall beats the random floor >= 10x vs exact dot top-10") {
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.TextVec.dot
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // exact top-10 by RAW DOT (s26's similarity), computed directly
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    val exact = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dot(col("embedding"), col("q_emb")).as("score"))
      .withColumn("k", row_number().over(w))
      .filter(col("k") <= 10)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    val pq = SparkEntry.queries("s26_ann_pq_adc")(spark, dir).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (qid, rs) => qid -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recall = exact.keys.toSeq.map { qid =>
      (exact(qid) & pq.getOrElse(qid, Set.empty)).size.toDouble / exact(qid).size
    }.sum / exact.size
    val corpus = emb.count()
    val randomFloor = 10.0 / corpus
    println(s"[s26] trained-PQ recall@10 = $recall (floor $randomFloor)")
    assert(recall >= randomFloor * 10,
      s"trained-PQ recall@10 $recall within 10x of the random floor $randomFloor")
  }

  test("s26 encoding is a zero-shuffle projection over the corpus scan") {
    val (codes, _) = AnnKmeans.pqEncode(spark, dir)
    val p = codes.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"PQ encoding must be one linear pass, never a shuffle:\n$p")
    assert(!p.contains("Join"), s"no join belongs in the encode path:\n$p")
  }
}
