package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates for the round-2 dedup/ANN additions: d07's bounded
  * label propagation must actually CONVERGE on the test corpus (the
  * query's contract is "labels after k rounds", engine-identical
  * either way, but a non-converged k would mis-split clusters), and
  * s06's multi-probe recall of the exact top-3 must be at least
  * single-probe s03's (probing 2 cells can only widen the candidate
  * set).
  */
class ClusterProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("d07 label propagation has converged by CcRounds on sf0.001") {
    spark.sparkContext.setLogLevel("WARN")
    def labelsAt(rounds: Int): Map[Long, Long] =
      Dedup.clusterLabels(spark, dir, rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val atK = labelsAt(Dedup.CcRounds)
    assert(atK.nonEmpty)
    assert(atK === labelsAt(Dedup.CcRounds + 1),
      s"labels still changing after ${Dedup.CcRounds} rounds — raise CcRounds")
    // and each cluster's label is its min member id (canonical form)
    atK.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min === label)
    }
  }

  test("s06 multi-probe recall@3 >= s03 single-probe recall@3") {
    spark.sparkContext.setLogLevel("WARN")
    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topSet(Similarity.s01CosineTopk.run(spark, dir)
      .filter(col("k") <= 3))
    val single = topSet(Similarity.s03AnnIvf.run(spark, dir))
    val multi = topSet(Similarity.s06AnnMultiprobe.run(spark, dir))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, t) =>
        approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      per.sum / per.size
    }
    val rSingle = recall(single)
    val rMulti = recall(multi)
    info(f"recall@3 single-probe=$rSingle%.3f multi-probe=$rMulti%.3f")
    assert(rMulti >= rSingle)
    assert(rMulti > 0.5, "multi-probe recall unexpectedly low")
  }

  test("seeded LSH planes: recall@3 is sane and reported next to the data-derived variant") {
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.TextVec.{dot, norm, seededPlaneCol}
    val emb = graft.Tables.embeddings(spark, dir)
    val e = emb.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))

    // top-3 exact ground truth for queries vec_id < 10
    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topSet(Similarity.s01CosineTopk.run(spark, dir).filter(col("k") <= 3))
    def recall(approx: Map[Long, Set[Long]]): Double = {
      val per = exact.map { case (q, t) =>
        approx.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      per.sum / per.size
    }

    // recall of an LSH table given a bucket expression over `embedding`
    def lshRecall(bucket: org.apache.spark.sql.Column): Double = {
      val buck = e.select(col("vec_id"), col("embedding"), col("nrm"), bucket.as("bucket"))
      val q = buck.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
      val scored = buck.join(broadcast(q),
          col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
        .select(col("q_id").as("query_id"), col("vec_id").as("neighbor_id"),
          when(col("q_nrm") * col("nrm") === 0, 0.0)
            .otherwise(dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
            .as("cos_sim"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
      recall(topSet(scored.withColumn("k", row_number().over(w)).filter(col("k") <= 3)))
    }

    val seededBucket = (0 until 4).map { j =>
      when(dot(col("embedding"), seededPlaneCol(j)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    // the round-2 construction: planes = embeddings 0..3 (corpus-prefix-dependent)
    val dataPlanes = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .collect().map(_.getSeq[Float](1))
    val dataBucket = dataPlanes.zipWithIndex.map { case (p, j) =>
      when(dot(col("embedding"), typedlit(p)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

    val rSeeded = lshRecall(seededBucket)
    val rData = lshRecall(dataBucket)
    info(f"recall@3 seeded-planes=$rSeeded%.3f data-derived-planes=$rData%.3f")
    // seeded planes must be a usable index on their own — and unlike the
    // data-derived ones, their quality cannot degenerate with the corpus
    // prefix (e.g. 4 near-identical leading vectors collapse to 2 buckets)
    assert(rSeeded > 0.1, f"seeded-plane recall@3 $rSeeded%.3f unexpectedly low")
  }
}
