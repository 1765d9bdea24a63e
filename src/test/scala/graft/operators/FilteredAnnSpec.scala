package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** s21's claim is PREDICATE-AWARE probe planning: the probe depth
  * widens exactly when the query's best cells can't supply k + 1
  * predicate-passing vectors, and never returns a wrong-label
  * neighbor. The registered sf0.01 corpus is dense enough that every
  * query plans n_probe = 1, so the adaptive branch is pinned here on
  * crafted corpora: a saturated top cell plans depth 1; a starved top
  * cell (same-label mass parked in the opposite cell via negated
  * vectors, which argmax-assign to a different centroid by
  * construction) forces depth > 1 AND recovers the far candidates a
  * fixed nprobe = 1 would silently drop; a label rarer than k + 1
  * everywhere falls back without erroring and returns what exists.
  */
class FilteredAnnSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  /** rows: (vec_id, hot-one vector scaled by sign, label) */
  private def annOf(rows: Seq[(Long, Array[Float], Int)]): Seq[(Long, Int, Long, Long, Int)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_s21_spec_")
    try {
      rows.map { case (id, v, l) => (id, v.toSeq, l) }
        .toDF("vec_id", "embedding", "label")
        .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding",
          "CAST(label AS INT) AS label")
        .write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
      Similarity.s21FilteredAnn.run(spark, dir.toString)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(5)))
        .toSeq // (query_id, q_label, n_probe, neighbor_id, k)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def vec(hot: Int, sign: Float = 1f): Array[Float] = {
    val v = new Array[Float](64)
    v(hot) = sign
    v
  }

  test("a saturated top cell plans probe depth 1") {
    // query 0 plus four same-vector same-label rows: its own cell
    // holds 5 passing vectors >= k+1 = 4, so depth stays 1
    val rows = (0L to 4L).map(i => (i, vec(3), 7)) ++
      Seq((100L, vec(9), 1), (101L, vec(9), 1), (102L, vec(9), 1), (103L, vec(9), 1))
    val out = annOf(rows)
    val q0 = out.filter(_._1 == 0L)
    assert(q0.nonEmpty && q0.forall(_._3 == 1L),
      s"saturated cell must plan n_probe = 1, got $out")
    assert(q0.map(_._4).sorted == Seq(1L, 2L, 3L),
      s"top-3 must be the identical-vector rows by id, got $q0")
  }

  test("a starved top cell widens the probe and recovers far candidates") {
    // query 0's cell holds only 3 passing vectors (itself + 2); the
    // other 3 same-label rows sit at -v, which argmax-assigns to a
    // DIFFERENT cell (argmax of negated dots = argmin of dots); the
    // cumulative rule must widen past the first cell and return 3
    // neighbors where fixed nprobe = 1 would find only 2
    val rows = Seq(
      (0L, vec(3), 7), (1L, vec(3), 7), (2L, vec(3), 7),
      (10L, vec(3, -1f), 7), (11L, vec(3, -1f), 7), (12L, vec(3, -1f), 7),
      (100L, vec(9), 1), (101L, vec(9), 1), (102L, vec(9), 1), (103L, vec(9), 1))
    val out = annOf(rows)
    val q0 = out.filter(_._1 == 0L)
    assert(q0.nonEmpty && q0.forall(_._3 > 1L),
      s"starved cell must widen n_probe past 1, got $out")
    assert(q0.map(_._4).toSet == Set(1L, 2L, 10L),
      s"widened probe must recover the nearest far candidate (cos 1 pair first, " +
        s"then lowest-id far row), got $q0")
  }

  test("a label rarer than k+1 everywhere falls back and returns what exists") {
    // only 2 passing rows besides the query, anywhere: cum never
    // reaches 4, depth falls back to all 8 cells, both rows return
    val rows = Seq(
      (0L, vec(3), 7), (20L, vec(3, -1f), 7), (21L, vec(5), 7),
      (100L, vec(9), 1), (101L, vec(9), 1), (102L, vec(9), 1), (103L, vec(9), 1))
    val out = annOf(rows)
    val q0 = out.filter(_._1 == 0L)
    assert(q0.map(_._3).distinct == Seq(8L),
      s"starved label must fall back to all 8 cells, got $out")
    assert(q0.map(_._4).toSet == Set(20L, 21L),
      s"both passing rows must return, got $q0")
  }

  test("no neighbor ever carries a different label than its query") {
    val rows = (0L to 9L).map(i => (i, vec((i % 4).toInt), (i % 3).toInt)) ++
      (100L to 140L).map(i => (i, vec((i % 7).toInt), (i % 3).toInt))
    val out = annOf(rows)
    val labelOf = rows.map(r => r._1 -> r._3).toMap
    assert(out.nonEmpty)
    out.foreach { case (qid, qlab, _, nid, _) =>
      assert(labelOf(nid) == qlab && qlab == labelOf(qid),
        s"neighbor $nid of query $qid crosses the label filter")
    }
  }
}
