package graft.operators

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** p12's greedy invariants beyond the oracle hash: the selection must
  * equal an independent JVM recomputation of Gonzalez's traversal
  * (same float→double fold, same tie-breaks — exercising the whole
  * literal-center/argmax machinery against 30 lines of plain Scala),
  * the coverage radius must be non-increasing (the 2-approximation
  * certificate), and the centers distinct.
  */
class KcenterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def dotF(a: Seq[Float], b: Seq[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  test("selection equals an independent JVM recomputation of Gonzalez's traversal") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("p12_kcenter_coreset")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))

    val vecs = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    def nrm(v: Seq[Float]) = math.sqrt(dotF(v, v))
    def dist(a: Seq[Float], b: Seq[Float]) = {
      val p = nrm(a) * nrm(b)
      if (p == 0) 1.0 else 1.0 - dotF(a, b) / p
    }
    var centers = List((vecs.head._1, vecs.head._2, 0.0))
    for (_ <- 2 to 5) {
      val sel = centers.map(_._1).toSet
      // min-dist folded left over centers in selection order = the
      // query's least(...) reduce order
      val cand = vecs.filterNot(v => sel.contains(v._1)).map { case (id, emb) =>
        val mind = centers.map(c => dist(emb, c._2)).reduceLeft(math.min)
        (id, emb, mind)
      }
      val best = cand.maxBy { case (id, _, m) => (m, -id) } // mind DESC, id ASC
      centers = centers :+ best
    }
    val want = centers.zipWithIndex.map { case ((id, _, m), i) => (i + 1, id, m) }
    assert(got.toList == want,
      s"traversals diverge:\n  spark=${got.toList}\n  jvm  =$want")
  }

  test("coverage radius is non-increasing and centers distinct") {
    val got = SparkEntry.queries("p12_kcenter_coreset")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 5, s"expected 5 centers, got ${got.length}")
    assert(got.map(_._2).distinct.length == 5, "duplicate center selected")
    val radii = got.drop(1).map(_._3).toList // r=1 seeds with 0.0 by convention
    radii.zip(radii.tail).foreach { case (a, b) =>
      assert(b <= a, s"coverage radius increased: $a -> $b")
    }
    assert(radii.head > 0.0, "first selection radius is 0 — degenerate corpus")
  }
}
