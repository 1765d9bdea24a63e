package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins AQE's skew-join handling on the deliberately hot-keyed join
  * (SkewProbe): identical results with handling on and off, and the
  * `skew=true` marker present in the final adaptive plan exactly when
  * enabled — i.e. the hot partition really was detected and split,
  * not just eligible. Wall-clock effect is recorded by the SCALE.md
  * entry at sf1 (at spec scale the join is too small for a stable
  * timing assertion).
  */
class SkewJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("AQE detects and splits the hot partition; result identical either way") {
    spark.sparkContext.setLogLevel("WARN")
    val out = java.nio.file.Files.createTempDirectory("graft_skew_spec_")
    try {
      val rows = SkewProbe
        .probe(spark, "/root/testdata/sf0.01", out.toString)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getInt(3)))
        .toMap
      val (onRows, _, onSkew) = rows("skew_on")
      val (offRows, _, offSkew) = rows("skew_off")
      assert(onRows == offRows, s"skew handling changed the result: $onRows vs $offRows")
      assert(onRows > 0, "probe joined no rows")
      assert(onSkew == 1, "enabled run's final plan has no skew=true join — the hot partition was not split")
      assert(offSkew == 0, "disabled run's plan unexpectedly carries skew=true")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(out.toFile)
    }
  }
}
