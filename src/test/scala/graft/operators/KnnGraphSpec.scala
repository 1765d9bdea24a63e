package graft.operators

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** s22's graph invariants beyond the oracle hash:
  *
  *  - MUTUAL correctness: mutual=1 exactly when the reversed directed
  *    edge is also in the graph (and therefore the mutual subgraph is
  *    symmetric).
  *  - CELL containment: an edge never crosses IVF cells — each dst's
  *    own outgoing edges carry the same cell id as the edge pointing
  *    at it.
  *  - COMPLETENESS: every non-singleton cell member emits exactly
  *    min(3, |cell|-1) edges — nobody is silently dropped by the
  *    candidate join or the rank window.
  */
class KnnGraphSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  // knnScoredProbe registers a cached k-means assignment per call;
  // release it when the suite is done (see the probe's Scaladoc)
  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    super.afterAll()
  }

  lazy val spark: SparkSession = graft.TestSession.spark

  private case class Edge(src: Long, dst: Long, cell: Long, k: Int, mutual: Int)

  private lazy val edges: Seq[Edge] = {
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries("s22_knn_graph")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => Edge(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4), r.getInt(5)))
      .toSeq
  }

  test("mutual flag is exactly reverse-edge membership") {
    val pairs = edges.map(e => (e.src, e.dst)).toSet
    assert(edges.nonEmpty, "fixture produced no edges")
    edges.foreach { e =>
      val rev = pairs.contains((e.dst, e.src))
      assert((e.mutual == 1) == rev,
        s"edge ${e.src}->${e.dst}: mutual=${e.mutual} but reverse-present=$rev")
    }
    val mutualPairs = edges.filter(_.mutual == 1).map(e => (e.src, e.dst)).toSet
    assert(mutualPairs.nonEmpty, "no mutual edge in the fixture — degenerate graph")
    assert(mutualPairs.forall(p => mutualPairs.contains(p.swap)),
      "mutual subgraph is not symmetric")
  }

  test("edges never cross IVF cells") {
    val cellOf = edges.groupBy(_.src).view.mapValues(_.map(_.cell).distinct).toMap
    cellOf.foreach { case (src, cs) =>
      assert(cs.size == 1, s"vector $src emits edges in several cells: $cs")
    }
    edges.foreach { e =>
      cellOf.get(e.dst).foreach { cs =>
        assert(cs.head == e.cell,
          s"edge ${e.src}->${e.dst} in cell ${e.cell} but dst lives in cell ${cs.head}")
      }
    }
  }

  test("ranking runs as a mergeable partial aggregate, not a pair-set window") {
    // the registered query eagerly checkpoints the edge set (the
    // mutual join reads it twice), which materializes the aggregate
    // out of the final plan — pin the edges subplan directly
    val edges = Similarity.knnEdges(
      Similarity.knnScoredProbe(spark, "/root/testdata/sf0.001"))
    val plan = edges.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      "top-3 is not an ObjectHashAggregate — the mergeable-summary plan regressed")
    assert(!plan.contains("Window"),
      "a Window appeared in s22's edge plan — the full within-cell pair set would be shuffled")
  }

  test("every non-singleton cell member emits exactly min(3, |cell|-1) edges") {
    val bySrc = edges.groupBy(_.src)
    val cellMembers = edges.groupBy(_.cell).view.mapValues(_.map(_.src).distinct.size).toMap
    bySrc.foreach { case (src, es) =>
      val m = cellMembers(es.head.cell)
      val expected = math.min(3, m - 1)
      assert(es.size == expected,
        s"vector $src in cell ${es.head.cell} (|cell|=$m): ${es.size} edges, expected $expected")
      assert(es.map(_.k).sorted == (1 to expected).toList,
        s"vector $src: ranks ${es.map(_.k).sorted} not contiguous")
    }
  }
}
