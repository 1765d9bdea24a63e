package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** d15's claim is EXACTNESS — boundaries and lengths, not winnowed
  * approximations — so it's pinned on crafted pairs where the true
  * span is known to the token: a mid-document verbatim run is
  * recovered with its exact start positions in BOTH documents and its
  * exact length; two runs on the same diagonal separated by a gap stay
  * TWO islands; sub-threshold overlaps yield nothing.
  */
class ExactSpansSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def spansOf(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_spans_spec_")
    try {
      docs.map { case (id, t) => (id, "xx", "src0", t.length.toLong, t) }
        .toDF("doc_id", "lang", "source", "n_chars", "text")
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      Dedup.d15ExactSpans.run(spark, dir.toString)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  private def toks(prefix: String, n: Int): Vector[String] =
    (0 until n).map(i => s"$prefix$i").toVector

  test("a shared verbatim run is recovered with exact boundaries in both docs") {
    val shared = toks("s", 20) // 20-token verbatim run
    // doc 0: 10 unique tokens, then the run (positions 11..30)
    val a = (toks("a", 10) ++ shared).mkString(" ")
    // doc 1: 5 unique tokens, then the run (positions 6..25)
    val b = (toks("b", 5) ++ shared ++ toks("c", 4)).mkString(" ")
    val spans = spansOf(Seq((0L, a), (1L, b)))
    assert(spans == Seq((0L, 1L, 11L, 6L, 20L)),
      s"expected the exact 20-token span at (11, 6), got $spans")
  }

  test("two gapped runs on the same diagonal stay two islands") {
    val r1 = toks("p", 14)
    val r2 = toks("q", 14)
    // same diagonal: identical prefix offsets in both docs, with
    // DIFFERENT separator tokens breaking the run
    val a = (r1 ++ Vector("gapA1", "gapA2") ++ r2).mkString(" ")
    val b = (r1 ++ Vector("gapB1", "gapB2") ++ r2).mkString(" ")
    val spans = spansOf(Seq((0L, a), (1L, b))).sortBy(_._3)
    assert(spans == Seq((0L, 1L, 1L, 1L, 14L), (0L, 1L, 17L, 17L, 14L)),
      s"expected two exact 14-token islands, got $spans")
  }

  test("overlaps under the 12-token threshold emit nothing") {
    val shared = toks("s", 11) // 11 < 12 threshold
    val a = (toks("a", 8) ++ shared).mkString(" ")
    val b = (shared ++ toks("b", 8)).mkString(" ")
    assert(spansOf(Seq((0L, a), (1L, b))).isEmpty)
  }

  test("ubiquitous grams (df > 8) are excluded as boilerplate") {
    val boiler = toks("x", 16)
    // the same 16-token run in 10 documents: every gram has df = 10 > 8
    val docs = (0 until 10).map(i =>
      (i.toLong, (Vector(s"u$i") ++ boiler).mkString(" ")))
    assert(spansOf(docs).isEmpty,
      "df cutoff must drop spans shared by more than 8 documents")
  }
}
