package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates for the trained-IVF ANN (s04): recall against the
  * exact brute-force top-k (s01), plus the structural invariant that
  * every returned neighbor shares the query's trained cell.
  */
class AnnKmeansSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("every s04 neighbor lies in the query's cell, k ranks are 1..3") {
    val rows = AnnKmeans.s04AnnIvfKmeans.run(spark, dir).collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(4)).sorted.sameElements(1 to rs.length))
      // one cell per query: the probe never crossed cells
      assert(rs.map(_.getLong(2)).distinct.length === 1)
    }
  }

  test("recall@3 vs exact top-3 is at least 0.3 (single-probe IVF, k=8 cells)") {
    val exact = Similarity.s01CosineTopk.run(spark, dir).collect()
      .filter(_.getInt(3) <= 3) // k column
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = AnnKmeans.s04AnnIvfKmeans.run(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.keys.toSeq.sorted.map { q =>
      val a = approx.getOrElse(q, Set.empty)
      val e = exact(q)
      a.intersect(e).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    // single-probe with 8 cells on 50 vectors: empirically ~0.5+; pin a
    // conservative floor so a broken training loop (e.g. all vectors in
    // one cell, or garbage centroids) fails loudly
    assert(mean >= 0.3, s"mean recall@3 = $mean, per-query = $recalls")
    spark.catalog.clearCache()
  }

  test("training-sample bound: 64 rows per centroid, capped at 65536") {
    assert(AnnKmeans.trainBound(8) === 512L)
    assert(AnnKmeans.trainBound(1024) === 65536L)
    assert(AnnKmeans.trainBound(100000) === 65536L) // cap binds: training linear in n under k ∝ n
  }

  test("literal and broadcast model paths are bit-identical under ACTIVE sampling") {
    // sf0.1 has 2000 vectors; trainBound(16) = 1024 < 2000, so Lloyd
    // genuinely trains on the prefix sample in both paths — a
    // divergence in sample handling, tie rule, or mean algebra between
    // the typedlit and broadcast-frame spellings fails here
    val dir01 = "/root/testdata/sf0.1"
    val lit = AnnKmeans.trainedFinLiteral(spark, dir01, 16)
    val bc = AnnKmeans.trainedFinBroadcast(spark, dir01, 16)
    val l = lit.select("vec_id", "cell", "nrm")
    val b = bc.select("vec_id", "cell", "nrm")
    assert(l.count() === 2000L)
    assert(l.except(b).count() === 0L, "literal-path rows missing from broadcast path")
    assert(b.except(l).count() === 0L, "broadcast-path rows missing from literal path")
    lit.unpersist(blocking = false)
    bc.unpersist(blocking = false)
    spark.catalog.clearCache()
  }

  test("broadcast path carries no k-sized plan literal; model rides a broadcast join") {
    val bc = AnnKmeans.trainedFinBroadcast(spark, "/root/testdata/sf0.001", 16)
    val plan = bc.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "broadcast model path lost its one-row broadcast join")
    // a typedlit model at k=16×64 dims would inline ~1024 doubles into
    // the plan text; the broadcast spelling keeps the plan k-independent
    assert(!plan.contains("argmax_dot([["),
      "assignment inlined the centroid model as a plan literal")
    bc.unpersist(blocking = false)
    spark.catalog.clearCache()
  }
}
