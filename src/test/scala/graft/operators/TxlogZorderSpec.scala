package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the c34 pruning arithmetic the hash gate cannot see: the
  * clustered layout strictly out-prunes the ingest layout on the 2-D
  * probe (the entire point of OPTIMIZE ZORDER), the pruned scan
  * touches only clustered files and strictly fewer than the live
  * set, and the ingest layout is genuinely the worst case (zero
  * skippable files — every residue shard spans both ranges).
  */
class TxlogZorderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.01"

  test("z-order clustering strictly out-prunes the ingest layout on the 2-D probe") {
    spark.sparkContext.setLogLevel("WARN")
    val (out, skippedIngest, skippedZ, nZ) = Curation.c34Run(spark, dir)
    // the ingest layout is the designed worst case: every doc_id
    // residue shard spans the full doc_id AND length ranges
    assert(skippedIngest == 0,
      s"ingest shards were skippable ($skippedIngest) — the fixture " +
        "no longer models the worst case")
    assert(nZ >= 8, s"expected a clustered tiling, got $nZ files")
    assert(skippedZ > nZ / 2,
      s"clustering should let the 2-D probe skip most files: " +
        s"skipped $skippedZ of $nZ")
    // the pruned scan reads only clustered files, strictly fewer
    // than the live set
    val touched = out.inputFiles
    assert(touched.nonEmpty && touched.forall(_.contains("/zopt/")),
      s"scan touched non-clustered files: ${touched.mkString(", ")}")
    assert(touched.length == nZ - skippedZ,
      s"scan read ${touched.length} files, pruning admitted ${nZ - skippedZ}")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
