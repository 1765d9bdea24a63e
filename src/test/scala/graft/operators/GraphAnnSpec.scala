package graft.operators

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** s23's walk invariants beyond the oracle hash — each recomputed
  * from the raw corpus, independent of the walk implementation:
  *
  *  - CELL containment: the returned node lives in the query's own
  *    trained cell (the IVF + graph-refinement contract).
  *  - SCORE correctness: cos_sim equals the brute-force cosine
  *    between the query and the returned node, bit-for-bit.
  *  - LOCAL OPTIMUM: no out-edge of the returned node in the s22
  *    graph scores strictly higher — the stopping rule as a fact
  *    about the edge set, not the walk's own claim.
  *  - NON-VACUOUS: some walk moves ≥ 2 steps (the query set is
  *    chosen off the k-means seeds so entries differ from queries).
  */
class GraphAnnSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  // the trainedFinParam/knnScoredProbe calls below each register a
  // cached k-means assignment; release them when the suite is done so
  // repeated suite runs in one JVM don't accumulate cached copies
  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    super.afterAll()
  }

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  private case class R(query: Long, cell: Long, entry: Long, best: Long,
      cos: Double, moves: Long)

  private lazy val results: Seq[R] = {
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries("s23_graph_ann")(spark, dir).collect()
      .map(r => R(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
  }

  private lazy val cells: Map[Long, (Array[Float], Double, Long)] = {
    spark.sparkContext.setLogLevel("WARN")
    AnnKmeans.trainedFinParam(spark, dir, AnnKmeans.derivedK(spark, dir))
      .select("vec_id", "embedding", "nrm", "cell").collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Float](1).toArray, r.getDouble(2), r.getLong(3))))
      .toMap
  }

  private lazy val edges: Seq[(Long, Long)] =
    Similarity.knnEdges(Similarity.knnScoredProbe(spark, dir))
      .select("src_id", "dst_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The house left-fold dot — same order as FloatVecDot/sqlDot. */
  private def cos(a: Long, b: Long): Double = {
    val (va, na, _) = cells(a); val (vb, nb, _) = cells(b)
    if (na * nb == 0) 0.0
    else {
      var s = 0.0
      var i = 0
      while (i < va.length) { s += va(i).toDouble * vb(i).toDouble; i += 1 }
      s / (na * nb)
    }
  }

  test("returned node lives in the query's own cell") {
    assert(results.size == 10)
    results.foreach { r =>
      assert(cells(r.best)._3 == r.cell,
        s"query ${r.query}: best ${r.best} in cell ${cells(r.best)._3}, query cell ${r.cell}")
      assert(cells(r.query)._3 == r.cell, s"query ${r.query}: cell column drifted")
    }
  }

  test("cos_sim is the brute-force cosine to the returned node, bit-for-bit") {
    results.foreach { r =>
      assert(r.cos == cos(r.query, r.best),
        s"query ${r.query}: walk score ${r.cos} != brute ${cos(r.query, r.best)}")
    }
  }

  test("the returned node is a local optimum of the edge set") {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    results.foreach { r =>
      val better = adj.getOrElse(r.best, Seq.empty).filter(n => cos(r.query, n) > r.cos)
      assert(better.isEmpty,
        s"query ${r.query}: node ${r.best} has strictly better neighbors $better — walk stopped early")
    }
  }

  test("each walk step is a broadcast-frontier join, never a corpus shuffle join") {
    // one representative step: adjacency ⋈ broadcast(frontier). The
    // frontier is explicitly broadcast-hinted, so the plan must carry
    // a BroadcastHashJoin and no SortMergeJoin for the step itself.
    import org.apache.spark.sql.functions._
    val fin = AnnKmeans.trainedFinParam(spark, dir, AnnKmeans.derivedK(spark, dir))
    val adj = Similarity.knnEdges(Similarity.knnScoredProbe(spark, dir))
      .select(col("src_id"), col("dst_id"))
      .join(fin.select(col("vec_id").as("dst_id"), col("embedding").as("dst_emb"),
        col("nrm").as("dst_nrm")), Seq("dst_id"))
    val frontier = fin.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("f_qid"), col("embedding").as("f_qe"),
        col("nrm").as("f_qn"), col("vec_id").as("f_node"))
    val step = adj.join(broadcast(frontier), col("src_id") === col("f_node"))
    val plan = step.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "step frontier join is not broadcast — the walk would shuffle corpus data per hop")
    assert(!plan.split("\n").exists(l =>
        l.contains("SortMergeJoin") && l.contains("f_node")),
      "the frontier join fell back to SortMergeJoin")
  }

  test("walks are non-vacuous: some query moves at least twice") {
    assert(results.exists(_.moves >= 2),
      s"all walks ≤1 move: ${results.map(r => r.query -> r.moves)}")
    // and the entry really is the cell's minimum member id
    val minByCell = cells.toSeq.groupBy(_._2._3).view.mapValues(_.map(_._1).min).toMap
    results.foreach(r => assert(r.entry == minByCell(r.cell),
      s"query ${r.query}: entry ${r.entry} != cell min ${minByCell(r.cell)}"))
  }
}
