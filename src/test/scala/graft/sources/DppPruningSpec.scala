package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins that dynamic partition pruning actually fires and actually
  * prunes on a real hive-partitioned write (DppProbe): the identical
  * fact-dim join must (a) return the same result with DPP on and
  * off, (b) carry the `dynamicpruning` subquery only when enabled,
  * and (c) read a small fraction of the fact files/rows when
  * enabled (the dim filter keeps ~1/8 of days; the 1/4 threshold
  * trips on "DPP did nothing", not on partition-boundary noise).
  */
class DppPruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("DPP prunes the partitioned fact scan; result identical either way") {
    spark.sparkContext.setLogLevel("WARN")
    val out = java.nio.file.Files.createTempDirectory("graft_dpp_spec_")
    try {
      val rows = DppProbe
        .probe(spark, "/root/testdata/sf0.001", out.toString)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .toMap
      val (onRows, onFiles, onScanned, onDpp) = rows("dpp_on")
      val (offRows, offFiles, offScanned, offDpp) = rows("dpp_off")
      assert(onRows == offRows, s"DPP changed the result: $onRows vs $offRows")
      assert(onRows > 0, "probe matched no rows — dim filter degenerate")
      assert(onDpp == 1, "enabled run's plan has no dynamicpruning subquery")
      assert(offDpp == 0, "disabled run's plan unexpectedly has a dynamicpruning subquery")
      assert(onFiles < offFiles,
        s"DPP did not reduce files read: $onFiles vs $offFiles")
      assert(onScanned * 4 <= offScanned,
        s"DPP scan not under 1/4 of unpruned: $onScanned vs $offScanned")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(out.toFile)
    }
  }
}
