package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins q96's incremental-maintenance semantics beyond the oracle
  * hash: every per-version view equals an independent from-scratch
  * aggregation of that version's live rows (incremental ≡ recompute,
  * version by version), the v5 compaction leaves the view
  * bit-identical to v4's, and the bucket lifecycle (9 vanishes at
  * the merge, 3 vanishes only while deleted) lands exactly where the
  * log says.
  */
class CdfViewMaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("incrementally maintained views equal from-scratch recomputation") {
    spark.sparkContext.setLogLevel("WARN")
    val out = graft.operators.StreamReplay
      .cdfViewMaintenance(spark, dir).cache()
    try {
      // independent from-scratch spelling of every version's live
      // rows (the residue algebra, in Spark rather than DuckDB)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      def liveAt(v: Int): DataFrame = {
        val m = col("doc_id") % 16
        val pred = v match {
          case 0 => m <= 7
          case 1 => lit(true)
          case 2 => !m.isin(3, 7)
          case 3 => m =!= 7
          case _ => !m.isin(7, 9)
        }
        val basis = docs.filter(pred).select(col("doc_id"),
          when(lit(v >= 4) && m === 5, concat(lit("upd:"), col("text")))
            .otherwise(col("text")).as("text"))
        if (v >= 4)
          basis.unionByName(docs.filter(m === 1).select(
            (col("doc_id") + 16000000L).as("doc_id"),
            concat(lit("ins:"), col("text")).as("text")))
        else basis
      }
      val expected = (0 to 5).map { v =>
        liveAt(v).groupBy((col("doc_id") % 16).as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            expr("bit_xor(CAST(conv(substr(md5(CAST(doc_id AS STRING) || " +
              "':' || text), 1, 15), 16, 10) AS BIGINT))").as("content_xor"),
            sum(col("doc_id")).as("sum_doc_id"))
          .select(lit(v.toLong).as("version"), col("bucket"),
            col("n_docs"), col("content_xor"), col("sum_doc_id"))
      }.reduce(_.unionByName(_))
      assert(out.exceptAll(expected).isEmpty
          && expected.exceptAll(out).isEmpty,
        "incremental views diverge from from-scratch recomputation")

      // v5 (compaction) must be bit-identical to v4
      def viewAt(v: Long) = out.filter(col("version") === v)
        .drop("version")
      assert(viewAt(5L).exceptAll(viewAt(4L)).isEmpty
          && viewAt(4L).exceptAll(viewAt(5L)).isEmpty,
        "the pure compaction changed the view")

      // bucket lifecycle: 9 vanishes at the merge; 3 vanishes only
      // while deleted (v2); both as long as the fixture has the rows
      val b9Versions = out.filter(col("bucket") === 9)
        .select("version").collect().map(_.getLong(0)).toSet
      if (b9Versions.nonEmpty)
        assert(b9Versions == Set(1L, 2L, 3L), s"bucket 9 lived at $b9Versions")
      val b3Versions = out.filter(col("bucket") === 3)
        .select("version").collect().map(_.getLong(0)).toSet
      if (b3Versions.nonEmpty)
        assert(!b3Versions.contains(2L) && b3Versions.contains(3L),
          s"bucket 3 lived at $b3Versions")
    } finally { out.unpersist(); () }
  }
}
