package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins that the z-order LAYOUT actually buys row-group pruning on
  * real parquet footers (q45 models the zone maps; this proves the
  * write): the same rows written z-ordered vs linearly-sorted-by-x,
  * probed with single-column range predicates, measured by the scan
  * node's output rows (what survives footer pruning).
  *
  * The asymmetry under test: linear-by-x prunes the x-probe perfectly
  * but must scan ~everything for the y-probe (every row group spans
  * the full y range); z-order prunes BOTH probes, because each row
  * group covers a small Morton tile with tight min/max on both
  * columns. The thresholds are generous — they trip on "layout did
  * nothing", not on tile-boundary noise.
  */
class ZorderPruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("z-order prunes both range probes; linear layout only its sort column") {
    spark.sparkContext.setLogLevel("WARN")
    val out = java.nio.file.Files.createTempDirectory("graft_zorder_spec_")
    try {
      val rows = ZorderLayout
        .pruningProbe(spark, "/root/testdata/sf0.01", out.toString)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val total = rows.values.head._3
      val (zX, _, _) = rows(("zorder", "x_range"))
      val (zY, _, _) = rows(("zorder", "y_range"))
      val (lX, _, _) = rows(("linear_x", "x_range"))
      val (lY, _, _) = rows(("linear_x", "y_range"))
      // both probes match the same tiny fraction; results must agree
      assert(rows(("zorder", "x_range"))._2 == rows(("linear_x", "x_range"))._2)
      assert(rows(("zorder", "y_range"))._2 == rows(("linear_x", "y_range"))._2)
      // linear-by-x: x-probe prunes hard, y-probe scans ~everything
      assert(lX < total / 4, s"linear x-probe did not prune: $lX of $total")
      assert(lY > total / 2, s"linear y-probe unexpectedly pruned: $lY of $total")
      // z-order: BOTH probes prune — the worst case is bounded, which
      // is the whole point of the layout. 40%: ~66 row groups split
      // ~3 bits per dimension (8 bands), so the expected scan is
      // 1/8 + tile-boundary spill ≈ 15-30%; the bound trips on
      // "layout did nothing" (100%), not on boundary noise
      assert(zX < total * 2 / 5, s"zorder x-probe did not prune: $zX of $total")
      assert(zY < total * 2 / 5, s"zorder y-probe did not prune: $zY of $total")
      assert(math.max(zX, zY) * 2 < math.max(lX, lY),
        s"z-order worst case ($zX, $zY) not clearly below linear worst case ($lX, $lY)")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(out.toFile)
    }
  }
}
