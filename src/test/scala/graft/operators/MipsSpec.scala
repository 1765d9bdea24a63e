package graft.operators

import graft.{SparkEntry, Tables}
import graft.functions.TextVec.dot
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates for the s15 MIPS norm-augmentation reduction. The
  * DuckDB oracle already pins the bit-exact `⟨[q,0],[c,s]⟩ = ⟨q,c⟩`
  * identity; this spec pins the OTHER half of the reduction — that
  * the augmented corpus genuinely lands on a sphere of radius M (the
  * property that lets any cosine/L2 ANN index serve inner-product
  * queries) — which the oracle cannot see because fp sqrt/re-square
  * noise makes the radius only approximately reproducible.
  */
class MipsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("augmented corpus vectors all share norm M to float precision") {
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables.embeddings(spark, dir).select(col("embedding"))
    val m2 = e.agg(max(dot(col("embedding"), col("embedding")))).first().getDouble(0)
    val aug = e.select(
      concat(col("embedding"), array(
        sqrt(greatest(lit(m2) - dot(col("embedding"), col("embedding")), lit(0.0)))
          .cast("float"))).as("aug"))
      .select(sqrt(dot(col("aug"), col("aug"))).as("augNorm"))
    val m = math.sqrt(m2)
    val worst = aug.agg(max(abs(col("augNorm") - lit(m)))).first().getDouble(0)
    // the appended component is rounded to float, so the radius is
    // exact to float (not double) precision: |Δ| ≤ ~M·2^-24 ≈ 6e-8·M
    // (the 1e-5·M bound is deliberately ~2 orders looser than that
    // rounding floor, so it only trips on a genuine construction bug)
    assert(worst <= 1e-5 * m,
      s"sphere property violated: max |‖aug‖ − M| = $worst, M = $m")
  }

  /** The reduction's actual payoff, exercised directly: ranking by
    * COSINE IN AUGMENTED SPACE (what a cosine ANN index computes —
    * ip_aug / (‖q_aug‖·‖aug‖), with the genuinely fp-noisy per-vector
    * ‖aug‖, NOT the constant M) must reproduce the raw inner-product
    * top-k. This is what the s15 docstring's "a cosine index serves
    * MIPS" claim rests on, and unlike the augmented DOT (bit-equal to
    * the raw dot by the ⟨[q,0],[c,s]⟩ identity the oracle already
    * pins) it can fail independently of the oracle — e.g. if the
    * augmentation component were dropped or mis-scaled, the division
    * by ‖aug‖ would reorder near-ties.
    */
  test("augmented-cosine ranking reproduces brute-force raw-MIPS ranking") {
    spark.sparkContext.setLogLevel("WARN")
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val m2 = e.agg(max(dot(col("embedding"), col("embedding")))).first().getDouble(0)
    val augC = e.select(col("vec_id"), col("embedding"),
      concat(col("embedding"), array(
        sqrt(greatest(lit(m2) - dot(col("embedding"), col("embedding")), lit(0.0)))
          .cast("float"))).as("aug"))
    val q = augC.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"),
        concat(col("embedding"), array(lit(0.0f))).as("q_aug"))
    val scored = augC.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("q_aug"), col("aug"))
          / (sqrt(dot(col("q_aug"), col("q_aug"))) * sqrt(dot(col("aug"), col("aug")))))
          .as("cosAug"),
        dot(col("q_emb"), col("embedding")).as("ip"))
      .collect()
    def top4(by: org.apache.spark.sql.Row => Double) =
      scored.groupBy(_.getAs[Long]("q_id")).flatMap { case (qid, rs) =>
        rs.toSeq.sortBy(r => (-by(r), r.getAs[Long]("vec_id")))
          .take(4).zipWithIndex
          .map { case (r, i) => (qid, (i + 1).toLong) -> r.getAs[Long]("vec_id") }
      }.toMap
    val viaCos = top4(_.getAs[Double]("cosAug"))
    val viaRaw = top4(_.getAs[Double]("ip"))
    assert(viaCos == viaRaw, "augmented-cosine top-4 differs from raw-MIPS top-4")
  }

  test("s15 ranking equals brute-force raw inner-product ranking") {
    spark.sparkContext.setLogLevel("WARN")
    val viaAug = SparkEntry.queries("s15_mips_topk")(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("k").toLong) -> r.getAs[Long]("neighbor_id"))
      .toMap
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val raw = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), dot(col("q_emb"), col("embedding")).as("ip"))
      .collect()
      .groupBy(_.getAs[Long]("q_id"))
      .flatMap { case (qid, rs) =>
        rs.toSeq.sortBy(r => (-r.getAs[Double]("ip"), r.getAs[Long]("vec_id")))
          .take(4).zipWithIndex
          .map { case (r, i) => (qid, (i + 1).toLong) -> r.getAs[Long]("vec_id") }
      }
    assert(viaAug == raw, "augmented-space top-4 differs from raw-MIPS top-4")
  }
}
