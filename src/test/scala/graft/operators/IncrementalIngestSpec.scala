package graft.operators

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Branch coverage for c09's verdict CASE: the driver corpora never
  * produce a cross-shard exact duplicate (sf0.01 yields quality /
  * neardup / accepted only), so the `rejected_exact` arm — and the
  * precedence order exact-beats-neardup — is pinned here on a
  * crafted corpus where every arm fires.
  */
class IncrementalIngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("c09 emits all four verdicts with exact taking precedence over near-dup") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // 40 mostly-distinct tokens with stopwords: quality well above 0.5
    val good = (0 until 36).map(i => s"w$i").mkString(" ") + " the of a and"
    // first 30 of good's tokens (≥ 23-token shared run ⇒ winnow
    // fingerprint collision guaranteed) + a fresh tail
    val near = (good.split(" ").take(30) ++ (0 until 15).map(i => s"z$i")).mkString(" ")
    val novel = (0 until 36).map(i => s"n$i").mkString(" ") + " the of a and"
    val docs = Seq(
      (0L, good, "en", "src5", good.length.toLong), // standing corpus
      (1L, good, "en", "src0", good.length.toLong), // exact dup of corpus
      (2L, near, "en", "src0", near.length.toLong), // shares a 30-token span
      (3L, "the the the the", "en", "src1", 15L), // fails the quality floor
      (4L, novel, "en", "src1", novel.length.toLong) // genuinely new
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("c09fix").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("c09_incremental_ingest")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(out == Map(
      1L -> "rejected_exact", // NOT rejected_neardup: exact wins precedence
      2L -> "rejected_neardup",
      3L -> "rejected_quality",
      4L -> "accepted"))
    spark.catalog.clearCache()
  }
}
